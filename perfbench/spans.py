"""Spans around calls into each layer, kept in memory for one traced run.

`instrument` wraps the public functions the ingest orchestrator calls
(`read_imgt_dat`, `build_release`, `AccessionRegistry.assign`,
`load_release`, `upsert_graph`, `GraphTables.load`, `validation_snapshot`)
so each call records a span. A span forces its layer's lazy output at the
boundary (persist + count), so the work lands in the layer that defines it
rather than in whichever later layer first runs an action.

Job and task counts come from diffing the status tracker's job-id set
around each span, per job group: the ingest driver thread runs without a
group (as do `upsert_graph`'s pool threads), a concurrent reader thread sets
its own. Work the tracer adds for its own bookkeeping (probes, job diffs)
runs outside the layers' self time and is reported as `trace.bookkeeping_s`.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    thread: str = ""
    jobs: frozenset = frozenset()
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: no spans, no forcing, no job diffs."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None

    def probe(self, fn):
        return fn()


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.job_tasks: dict[int, tuple[int, int]] = {}  # job -> (tasks, failed)
        self._seen_stages: set[int] = set()
        self._kept: list = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.book_s = 0.0  # time inside the tracer itself

    # --- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _jobs(self) -> set[int]:
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def _drain(self) -> None:
        """Job start/end events reach the status store asynchronously;
        wait until every event posted so far is applied."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        self._drain()
        before = self._jobs()
        stack = self._stack()
        sp = Span(
            name,
            time.perf_counter(),
            parent=stack[-1] if stack else None,
            run=self.run_id,
            thread=threading.current_thread().name,
        )
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
            self.book_s += sp.start - t
        stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._drain()
            sp.jobs = frozenset(self._jobs() - before)
            self._count_tasks(sp.jobs)
            with self._lock:
                self.book_s += time.perf_counter() - sp.end

    def add_span(self, name: str, start: float, end: float) -> None:
        with self._lock:
            self.spans.append(Span(name, start, end, run=self.run_id))

    def _count_tasks(self, jobs) -> None:
        """Completed and failed tasks per job, each stage counted once
        (a reused shuffle stage shows up again, skipped, in later jobs)."""
        st = self.sc.statusTracker()
        for j in jobs:
            if j in self.job_tasks:
                continue
            info = st.getJobInfo(j)
            done = failed = 0
            for s in info.stageIds if info else ():
                with self._lock:
                    if s in self._seen_stages:
                        continue
                    self._seen_stages.add(s)
                si = st.getStageInfo(s)
                if si:
                    done += si.numCompletedTasks
                    failed += si.numFailedTasks
            self.job_tasks[j] = (done, failed)

    def probe(self, fn):
        """Run tracer-only work (a count, a file walk) in a `trace.probe`
        span: its time and jobs stay out of every layer's self figures."""
        with self.span("trace.probe"):
            return fn()

    # --- forcing -------------------------------------------------------------

    def keep(self, df):
        """Persist a layer's output and materialize it now; returns the
        persisted frame and its row count."""
        df = df.persist()
        self._kept.append(df)
        return df, df.count()

    def release_kept(self) -> None:
        for df in self._kept:
            df.unpersist()
        self._kept.clear()

    # --- derived figures -----------------------------------------------------

    def children(self, i: int) -> list[Span]:
        return [s for s in self.spans if s.parent == i]

    def self_time(self, i: int) -> float:
        return self.spans[i].dur - sum(c.dur for c in self.children(i))

    def self_jobs(self, i: int) -> set[int]:
        jobs = set(self.spans[i].jobs)
        for c in self.children(i):
            jobs -= c.jobs
        return jobs

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def dump(self, path: str, layers: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        doc = {
            "run": self.run_id,
            "per_layer": layers,
            "spans": [
                {
                    "name": s.name,
                    "start": round(s.start - t0, 6),
                    "end": round(s.end - t0, 6),
                    "parent": s.parent,
                    "run": s.run,
                    "thread": s.thread,
                    "jobs": sorted(s.jobs),
                    "attrs": s.attrs,
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


def instrument(tracer: Tracer) -> None:
    """Wrap the layer entry points the orchestrator and readers call, for
    the rest of the process."""
    import gfe_db_spark.streaming.incremental as inc
    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.load import GraphTables

    orig = {
        "read": inc.read_imgt_dat,
        "build": inc.build_release,
        "validate": inc.validation_snapshot,
        "load": inc.load_release,
        "commit": inc.upsert_graph,
        "open": GraphTables.__dict__["load"],
        "assign": AccessionRegistry.assign,
    }
    open_graph = orig["open"].__func__
    tracer.open_graph = open_graph  # for probes, which must not add open spans

    def read_imgt_dat(spark, path):
        with tracer.span("sources.imgt") as sp:
            df, _n = tracer.keep(orig["read"](spark, path))
            row = df.agg(F.count(F.lit(1)).alias("n"), F.count("parse_error").alias("e")).first()
            sp.attrs.update(records=row["n"], parse_errors=row["e"])
        return df

    def assign(self, features, release):
        before = tracer.probe(lambda: self.load().count())
        with tracer.span("plans.accession") as sp:
            out, _n = tracer.keep(orig["assign"](self, features, release))
        sp.attrs["new_accessions"] = tracer.probe(lambda: self.load().count()) - before
        return out

    def build_release(spark, alleles, release, registry, **kw):
        with tracer.span("plans.build") as sp:
            out = orig["build"](spark, alleles, release, registry, **kw)
            rows = 0
            for name in ("gfe_sequences", "all_features", "all_groups", "all_cds", "errors"):
                df, n = tracer.keep(getattr(out, name))
                setattr(out, name, df)
                rows += n
            sp.attrs["rows_out"] = rows
        return out

    def load_release(spark, tables, release, **kw):
        with tracer.span("plans.load.load") as sp:
            graph = orig["load"](spark, tables, release, **kw)
            rows = 0
            for name, df in graph.items():
                df, n = tracer.keep(df)
                setattr(graph, name, df)
                rows += n
            sp.attrs["rows_committed"] = rows
        return graph

    def upsert_graph(new, graph_path, n_buckets=16, layout="tx"):
        with tracer.span("plans.load.commit") as sp:
            touched = orig["commit"](new, graph_path, n_buckets=n_buckets, layout=layout)
            sp.attrs.update(
                touched=sum(len(v) for v in touched.values()),
                buckets=n_buckets * len(touched),
            )
        return touched

    def load_graph(spark, path):
        with tracer.span("plans.load.open"):
            return open_graph(spark, path)

    def validation_snapshot(graph):
        if graph is None:
            return orig["validate"](graph)
        with tracer.span("plans.queries.validate"):
            return orig["validate"](graph)

    inc.read_imgt_dat = read_imgt_dat
    inc.build_release = build_release
    inc.load_release = load_release
    inc.upsert_graph = upsert_graph
    inc.validation_snapshot = validation_snapshot
    AccessionRegistry.assign = assign
    GraphTables.load = staticmethod(load_graph)


# per-layer metric -> unit; per release unless the name says otherwise
UNITS = {
    "session.start_s": "s",
    "sources.imgt.parse_s": "s",
    "sources.imgt.records": "count",
    "sources.imgt.parse_errors": "count",
    "sources.imgt.tasks": "count",
    "plans.accession.assign_s": "s",
    "plans.accession.new_accessions": "count",
    "plans.accession.segments": "count",
    "plans.accession.jobs": "count",
    "plans.build.build_s": "s",
    "plans.build.rows_out": "count",
    "plans.build.jobs": "count",
    "plans.load.load_s": "s",
    "plans.load.commit_s": "s",
    "plans.load.commit_jobs": "count",
    "plans.load.commit_tasks": "count",
    "plans.load.touched_bucket_ratio": "ratio",
    "plans.load.rows_added_per_row_committed": "ratio",
    "plans.txtable.bytes_written_per_input_byte": "ratio",
    "plans.txtable.files_written": "count",
    "plans.txtable.files_per_snapshot": "count",
    "plans.load.open_s": "s",
    "plans.queries.validate_s": "s",
    "streaming.incremental.self_s": "s",
    "plans.motif.compile_s": "s",
    "plans.motif.execute_s": "s",
    "plans.motif.jobs_per_query": "count",
    "plans.motif.tasks_per_query": "count",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
}


def layer_metrics(tracer: Tracer, extra: dict) -> dict[str, float]:
    """The per-layer table. Release-path figures are per release (mean over
    the run's update releases); query-path figures are per query. `extra`
    holds the figures measured outside spans (storage walks, overhead,
    segments)."""
    releases = tracer.named("streaming.incremental")
    n_rel = max(len(releases), 1)
    updates = set(releases)

    def idx(name: str, update_only: bool = False) -> list[int]:
        return [
            i
            for i in tracer.named(name)
            if not update_only or tracer.spans[i].parent in updates
        ]

    def self_s(name: str) -> float:
        return sum(tracer.self_time(i) for i in idx(name)) / n_rel

    def median_self(name: str) -> float:
        vals = [tracer.self_time(i) for i in idx(name)]
        return statistics.median(vals) if vals else 0.0

    def attr(ids, key: str) -> float:
        return sum(tracer.spans[i].attrs.get(key, 0) for i in ids)

    def jobs(ids) -> set[int]:
        out: set[int] = set()
        for i in ids:
            out |= tracer.self_jobs(i)
        return out

    def tasks(ids) -> int:
        return sum(tracer.job_tasks.get(j, (0, 0))[0] for j in jobs(ids))

    motif = idx("plans.motif.compile") + idx("plans.motif.execute")
    n_motif = max(len(idx("plans.motif.execute")), 1)
    session = idx("session.start")

    return {
        "session.start_s": tracer.spans[session[0]].dur if session else 0.0,
        "sources.imgt.parse_s": self_s("sources.imgt"),
        "sources.imgt.records": attr(idx("sources.imgt"), "records") / n_rel,
        "sources.imgt.parse_errors": attr(idx("sources.imgt"), "parse_errors") / n_rel,
        "sources.imgt.tasks": tasks(idx("sources.imgt")) / n_rel,
        "plans.accession.assign_s": self_s("plans.accession"),
        "plans.accession.new_accessions": attr(idx("plans.accession"), "new_accessions")
        / n_rel,
        "plans.accession.segments": extra["segments"],
        "plans.accession.jobs": len(jobs(idx("plans.accession"))) / n_rel,
        "plans.build.build_s": self_s("plans.build"),
        "plans.build.rows_out": attr(idx("plans.build"), "rows_out") / n_rel,
        "plans.build.jobs": len(jobs(idx("plans.build"))) / n_rel,
        "plans.load.load_s": self_s("plans.load.load"),
        "plans.load.commit_s": self_s("plans.load.commit"),
        "plans.load.commit_jobs": len(jobs(idx("plans.load.commit"))) / n_rel,
        "plans.load.commit_tasks": tasks(idx("plans.load.commit")) / n_rel,
        "plans.load.touched_bucket_ratio": attr(idx("plans.load.commit", True), "touched")
        / max(attr(idx("plans.load.commit", True), "buckets"), 1),
        "plans.load.rows_added_per_row_committed": attr(updates, "rows_added")
        / max(attr(idx("plans.load.load", True), "rows_committed"), 1),
        "plans.txtable.bytes_written_per_input_byte": extra["bytes_written"]
        / extra["input_bytes"],
        "plans.txtable.files_written": extra["files_written"] / n_rel,
        "plans.txtable.files_per_snapshot": extra["files_per_snapshot"],
        "plans.load.open_s": median_self("plans.load.open"),
        "plans.queries.validate_s": median_self("plans.queries.validate"),
        "streaming.incremental.self_s": self_s("streaming.incremental"),
        "plans.motif.compile_s": sum(tracer.spans[i].dur for i in idx("plans.motif.compile"))
        / n_motif,
        "plans.motif.execute_s": sum(tracer.spans[i].dur for i in idx("plans.motif.execute"))
        / n_motif,
        "plans.motif.jobs_per_query": len(jobs(motif)) / n_motif,
        "plans.motif.tasks_per_query": tasks(motif) / n_motif,
        "spark.failed_tasks": sum(f for _t, f in tracer.job_tasks.values()),
        "trace.overhead_s": extra["overhead_s"],
        "trace.bookkeeping_s": tracer.book_s
        + sum(tracer.spans[i].dur for i in idx("trace.probe")),
    }
