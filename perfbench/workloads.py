"""The `query` and `mixed` workloads, their correctness checks and metrics.

Both are closed loops driven from one process, and both start from the
committed store of the base release (`base_store`). Each update release goes
through `streaming.incremental.run_incremental`, one release per call, from
its `.dat` file on disk to the committed watermark.

- `query`: set-up ingests one update release, then one client sends the
  six-kind query mix round-robin over the committed snapshot for the run's
  seconds.
- `mixed`: the update replay (at least one release, more while the run's
  seconds last) with one reader thread that reopens the latest snapshot and
  runs the query mix until the replay ends.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import gfe_db_spark
from gfe_db_spark.plans.accession import AccessionRegistry
from gfe_db_spark.plans.load import GraphTables
from gfe_db_spark.plans.queries import node_counts
from gfe_db_spark.plans.txtable import txlog_segment_count
from gfe_db_spark.streaming.incremental import run_incremental

import mix
from gen import Model, ReleaseSet
from spans import NullTracer, Tracer, layer_metrics

READER_GROUP = "perfbench-reader"
NULL = NullTracer()


@dataclass
class Query:
    kind: str
    target: object
    snapshot: int  # index of the last release committed in the snapshot read
    start: float
    latency: float
    traced: bool
    answer: object


@dataclass
class Run:
    spark: object
    rs: ReleaseSet
    models: list[Model]  # models[i]: state after releases 0..i
    root: str
    seed: int
    tracer: Tracer | NullTracer
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    walls: list[float] = field(default_factory=list)
    alleles: int = 0
    base_bytes: int = 0  # `.dat` bytes behind the copied base store
    input_bytes: int = 0  # `.dat` bytes ingested by this run
    bytes_written: int = 0
    files_written: int = 0
    graph_rows: int = 0
    queries: list[Query] = field(default_factory=list)
    queries_measured: list[Query] = field(default_factory=list)
    overhead_queries: list[Query] = field(default_factory=list)
    query_wall: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def data(self) -> str:
        return os.path.join(self.root, "data")

    @property
    def registry(self) -> str:
        return os.path.join(self.root, "registry")

    @property
    def graph(self) -> str:
        return os.path.join(self.root, "graph")

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, what: str) -> None:
        """Count a failed operation; its traceback goes to stderr."""
        with self._lock:
            self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def open_graph(self) -> GraphTables:
        """The latest snapshot, opened outside any span."""
        open_fn = getattr(self.tracer, "open_graph", GraphTables.load)
        return open_fn(self.spark, self.graph)


def _walk(dirs: list[str]) -> dict[str, int]:
    out = {}
    for d in dirs:
        for base, _dirs, files in os.walk(d):
            for f in files:
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


def _source_key(*parts) -> str:
    """Digest of the program's sources and the base-release parameters."""
    h = hashlib.sha256(repr(parts).encode())
    pkg = os.path.dirname(os.path.abspath(gfe_db_spark.__file__))
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(base, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def base_store(spark, work: str, rs: ReleaseSet, *key_parts) -> str:
    """The committed registry, graph and watermark after the base release.
    It is built by the first run of a program version and reused by later
    runs: the bootstrap costs about as much as the rest of a run."""
    path = os.path.join(work, "base-" + _source_key(rs.releases[0], *key_parts))
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rs.write(os.path.join(tmp, "data"), 0)
    res = run_incremental(
        spark,
        os.path.join(tmp, "data"),
        [rs.releases[0]],
        state_path=os.path.join(tmp, "state.json"),
        registry_path=os.path.join(tmp, "registry"),
        graph_path=os.path.join(tmp, "graph"),
    )
    if res.processed != [rs.releases[0]]:
        raise RuntimeError(f"base release not committed: {res.processed}")
    shutil.rmtree(os.path.join(tmp, "data"))
    try:
        os.rename(tmp, path)
    except OSError:  # another run published it first
        shutil.rmtree(tmp)
    return path


def restore_base(run: Run, base: str) -> None:
    shutil.copytree(os.path.join(base, "registry"), run.registry)
    shutil.copytree(os.path.join(base, "graph"), run.graph)
    shutil.copy2(os.path.join(base, "state.json"), os.path.join(run.root, "state.json"))
    run.base_bytes = len(run.rs.texts[0].encode())
    if run.tracer.enabled:
        run.graph_rows = run.tracer.probe(lambda: _graph_rows(run))


def _graph_rows(run: Run) -> int:
    return sum(df.count() for _n, df in run.open_graph().items())


def ingest(run: Run, i: int) -> None:
    """Commit release i; its wall runs from the `.dat` on disk to the
    committed watermark."""
    release = run.rs.releases[i]
    run.input_bytes += run.rs.write(run.data, i)
    tr = run.tracer
    stores = [run.registry, run.graph]
    before = tr.probe(lambda: _walk(stores)) if tr.enabled else {}
    run.attempt()
    t0 = time.perf_counter()
    try:
        with tr.span("streaming.incremental") as sp:
            res = run_incremental(
                run.spark,
                run.data,
                [release],
                state_path=os.path.join(run.root, "state.json"),
                registry_path=run.registry,
                graph_path=run.graph,
            )
        if res.processed != [release]:
            raise RuntimeError(f"release {release} not committed: {res.processed}")
    except Exception:
        run.fail(f"release {release}")
        return
    run.walls.append(time.perf_counter() - t0)
    run.alleles += len(run.rs.alleles[i])
    if tr.enabled:
        after = tr.probe(lambda: _walk(stores))
        new = [p for p, n in after.items() if before.get(p) != n]
        run.files_written += len(new)
        run.bytes_written += sum(after[p] for p in new)
        rows = tr.probe(lambda: _graph_rows(run))
        sp.attrs["rows_added"] = rows - run.graph_rows
        run.graph_rows = rows
        tr.release_kept()


def query(run: Run, graph, kind: str, target, snapshot: int, tr=NULL) -> Query | None:
    """Plan and collect one query, with spans in `tr`; a failure is counted,
    never dropped."""
    layer = mix.LAYER[kind]
    run.attempt()
    t0 = time.perf_counter()
    try:
        if layer == "plans.motif":
            with tr.span("plans.motif.compile"):
                df = mix.plan(graph, kind, target)
            with tr.span("plans.motif.execute"):
                rows = df.collect()
        elif layer == "plans.queries.validate":
            with tr.span(layer):
                rows = mix.plan(graph, kind, target).collect()
        else:
            rows = mix.plan(graph, kind, target).collect()
    except Exception:
        run.fail(f"query {kind} {target!r}")
        return None
    latency = time.perf_counter() - t0
    q = Query(kind, target, snapshot, t0, latency, tr.enabled, mix.answer(kind, rows))
    with run._lock:
        run.queries.append(q)
    return q


def mix_passes(
    run: Run, graph, k: int, rng: random.Random, seconds: float = 0.0, passes: int = 1, tr=NULL
) -> tuple[list[Query], float]:
    """Whole passes of the mix over the snapshot of release k: at least
    `passes`, and more until `seconds` have passed. Whole passes give every
    kind the same weight. Every second pass records its spans in `tr`, so a
    traced run can compare traced and untraced latencies (the tracing
    overhead). Returns the queries and their wall."""
    model = run.models[k]
    names = sorted(model.alleles)
    first = len(run.queries)
    per = len(mix.KINDS)
    t0 = time.perf_counter()
    n = 0
    while n < passes * per or n % per or time.perf_counter() - t0 < seconds:
        kind = mix.KINDS[n % per]
        pass_tr = tr if (n // per) % 2 == 1 else NULL
        query(run, graph, kind, mix.pick_target(kind, model, names, rng), k, pass_tr)
        n += 1
    return run.queries[first:], time.perf_counter() - t0


def query_workload(run: Run, seconds: float, t_start: float) -> float:
    """Returns the set-up time."""
    ingest(run, 1)
    if run.failed:
        return time.perf_counter() - t_start
    rng = random.Random(run.seed * 1_000_003 + 1)
    # A full collection after the ingest gives every run's query phase the
    # same heap; without it `queries_per_s` moved 20-30 % between runs.
    run.spark.sparkContext._jvm.java.lang.System.gc()
    graph = GraphTables.load(run.spark, run.graph)
    # warm-up: one pass of the mix, so plan caches and JIT settle untimed
    mix_passes(run, graph, 1, rng)
    setup_s = time.perf_counter() - t_start
    run.queries_measured, run.query_wall = mix_passes(
        run, graph, 1, rng, seconds=seconds, tr=run.tracer
    )
    run.overhead_queries = run.queries_measured
    return setup_s


def _reader(run: Run, done: threading.Event) -> None:
    """Reopen the latest snapshot and run one pass of the mix on it, until
    the replay ends (and at least once). The first query of a pass counts
    the nodes, which identifies the snapshot's release."""
    run.spark.sparkContext.setJobGroup(READER_GROUP, "mixed-workload reader")
    rng = random.Random(run.seed * 1_000_003 + 2)
    expected_counts = [m.node_counts() for m in run.models]
    names = sorted(a.name for a in run.rs.alleles[0])
    passes = 0
    last = -1
    while not done.is_set() or passes == 0:
        tr = run.tracer if passes % 2 == 1 else NULL
        passes += 1
        try:
            graph = GraphTables.load(run.spark, run.graph)
        except Exception:
            run.fail("reader open")
            continue
        q = query(run, graph, "node_counts", None, -1, tr)
        if q is None:
            continue
        if q.answer not in expected_counts:
            run.problems.append(f"reader saw a torn snapshot: {q.answer}")
            continue
        k = expected_counts.index(q.answer)
        if k < last:
            run.problems.append(f"reader snapshot went back from release {last} to {k}")
        last = k
        q.snapshot = k
        model = run.models[k]
        for kind in mix.KINDS[1:]:
            query(run, graph, kind, mix.pick_target(kind, model, names, rng), k, tr)


def mixed_workload(run: Run, seconds: float, t_start: float) -> float:
    setup_s = time.perf_counter() - t_start
    done = threading.Event()
    def read() -> None:
        try:
            _reader(run, done)
        except Exception:
            run.fail("reader")

    reader = threading.Thread(target=read, name="reader", daemon=True)
    t0 = time.perf_counter()
    reader.start()
    i = 1
    try:
        while i < len(run.rs.releases) and (i < 2 or time.perf_counter() - t0 < seconds):
            ingest(run, i)
            i += 1
    finally:
        done.set()
        reader.join(timeout=150)
    if reader.is_alive():
        run.problems.append("reader did not finish")
        return setup_s
    run.queries_measured = list(run.queries)
    if run.queries:
        run.query_wall = time.perf_counter() - min(q.start for q in run.queries)
    if run.tracer.enabled:
        # The reader's traced and untraced passes meet different phases of
        # the replay, so the overhead is measured on the final snapshot
        # alone, with a tracer of its own that keeps these passes out of
        # the layer table.
        rng = random.Random(run.seed * 1_000_003 + 3)
        own = Tracer(run.spark, run.tracer.run_id)
        graph = run.open_graph()
        run.overhead_queries, _wall = mix_passes(run, graph, len(run.walls), rng, passes=4, tr=own)
    return setup_s


def check(run: Run) -> None:
    """Compare the committed store and every query answer with the model."""
    k = len(run.walls)  # releases committed after the base
    model = run.models[k]
    graph = run.open_graph()
    counts = mix.answer("node_counts", node_counts(graph).collect())
    if counts != model.node_counts():
        run.problems.append(f"node counts {counts} != model {model.node_counts()}")

    registry: dict[tuple, dict[str, int]] = {}
    for r in AccessionRegistry(run.spark, run.registry).load().collect():
        registry.setdefault((r["locus"], r["term"], r["rank"]), {})[r["sequence"]] = r[
            "accession"
        ]
    for ctx, seqs in registry.items():
        if sorted(seqs.values()) != list(range(1, len(seqs) + 1)):
            run.problems.append(f"accessions of {ctx} are not dense")
    if registry != model.registry:
        run.problems.append("registry differs from the model (numbering or stability)")

    edges = graph.edges_has_ipd_allele.collect()
    gfe = {r["dst"]: r["src"] for r in edges}
    if len(edges) != len(gfe) or gfe != model.gfe:
        bad = [a for a in model.gfe if gfe.get(a) != model.gfe[a]][:3]
        run.problems.append(f"GFE names differ from the model, e.g. {bad}")
    if {r["dst"]: list(r["releases"]) for r in edges} != model.allele_releases:
        run.problems.append("release arrays differ from the model")

    with open(os.path.join(run.root, "state.json")) as fh:
        if json.load(fh)["releases"] != run.rs.releases[: k + 1]:
            run.problems.append("watermark differs from the committed releases")

    for q in run.queries:
        if q.snapshot < 0:
            continue
        want = mix.expected(q.kind, q.target, run.models[q.snapshot])
        if q.answer != want:
            run.problems.append(f"{q.kind} {q.target!r}: {q.answer!r} != {want!r}")


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> dict[str, float]:
    stored = sum(_walk([run.registry, run.graph]).values())
    return {
        "setup_s": setup_s,
        "release_s": statistics.median(run.walls) if run.walls else 0.0,
        "alleles_per_s": run.alleles / sum(run.walls) if run.walls else 0.0,
        "queries_per_s": len(run.queries_measured) / run.query_wall if run.query_wall else 0.0,
        "stored_bytes_per_input_byte": stored / (run.base_bytes + run.input_bytes),
        "peak_rss_mb": rss_mb,
    }


def per_layer(run: Run) -> dict[str, float]:
    tr = run.tracer
    graph = run.open_graph()
    # per kind: median traced latency minus median untraced latency
    diffs = []
    for kind in mix.KINDS:
        on = [q.latency for q in run.overhead_queries if q.kind == kind and q.traced]
        off = [q.latency for q in run.overhead_queries if q.kind == kind and not q.traced]
        if on and off:
            diffs.append(statistics.median(on) - statistics.median(off))
    overhead = statistics.mean(diffs) if diffs else 0.0
    return layer_metrics(
        tr,
        {
            "segments": txlog_segment_count(run.spark, run.registry),
            "bytes_written": run.bytes_written,
            "input_bytes": max(run.input_bytes, 1),
            "files_written": run.files_written,
            "files_per_snapshot": sum(len(df.inputFiles()) for _n, df in graph.items()),
            "overhead_s": overhead,
        },
    )
