"""Release-grain incremental processing (ref §2.8 ST1-ST6).

The reference's orchestration stack (EventBridge cron → Lambda state diff →
Step Functions → Batch/SSM, `invoke_pipeline/app.py` + `pipeline.asl.json`)
collapses into: a watermark state document, an anti-join new-release
detection, a monotonicity guard, and serialized build→load→commit per
release with idempotent MERGE semantics. Every commit — graph tables,
graph manifest, accession registry — goes through the manifest-pointer
protocol (`plans/txtable.py`), so a reader polling during a release load
always resolves one complete before/after snapshot.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from gfe_db_spark.plans.accession import AccessionRegistry
from gfe_db_spark.plans.build import build_release
from gfe_db_spark.plans.load import GraphTables, load_release, upsert_graph
from gfe_db_spark.sources.imgt import read_imgt_dat

# F5 (ref invoke_pipeline/app.py:174-185, app.py:32)
RELEASE_PATTERN = re.compile(r"^\d{2,3}0$")


@dataclass
class ReleaseState:
    """ST2: the processed-release watermark
    (ref `IMGTHLA-repository-state.json`, rewritten after each run)."""

    path: str
    repository_url: str = "synthetic://imgt-hla"
    releases: list[str] = field(default_factory=list)

    @classmethod
    def load(cls, path: str) -> "ReleaseState":
        if os.path.exists(path):
            with open(path) as fh:
                doc = json.load(fh)
            return cls(
                path=path,
                repository_url=doc.get("repository_url", ""),
                releases=list(doc.get("releases", [])),
            )
        return cls(path=path)

    def commit(self, release: str) -> None:
        """Atomic state append: write-new + rename, only after load
        succeeded (the reference rewrites the JSON post-run)."""
        self.releases = sorted({*self.releases, release}, key=int)
        doc = {
            "timestamp": datetime.now(timezone.utc).isoformat(timespec="milliseconds"),
            "repository_url": self.repository_url,
            "releases": self.releases,
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=2)
        os.replace(tmp, self.path)


def detect_new_releases(available: list[str], state: ReleaseState) -> list[str]:
    """ST1/J7: valid-release filter + set-difference against the watermark
    (ref invoke_pipeline/app.py:258-265), ascending order."""
    valid = [r for r in available if RELEASE_PATTERN.match(r)]
    new = set(valid) - set(state.releases)
    return sorted(new, key=int)


def monotonicity_ok(releases: list[str]) -> bool:
    """ST4/A13: consecutive releases must differ by exactly 10
    (ref invoke_pipeline/app.py:266-281, np.diff == 10)."""
    xs = sorted(int(r) for r in releases)
    return all(b - a == 10 for a, b in zip(xs, xs[1:]))


def fetch_release(url: str, dest_dir: str, release: str) -> str:
    """S3 analog (ref run.sh:119-134, get_alignments.sh:16-50): stage one
    release's ``hla.<release>.dat`` from a URL (file://, http(s)://) into
    `dest_dir`. Driver-side by design — staging is orchestration I/O, not a
    data-plane op (SURVEY maps S3 out of engine scope). Idempotent (skips
    an existing non-empty file) and atomic (.part + rename)."""
    import shutil
    import urllib.request

    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, f"hla.{release}.dat")
    if os.path.exists(dest) and os.path.getsize(dest) > 0:
        return dest
    tmp = dest + ".part"
    with urllib.request.urlopen(url) as resp, open(tmp, "wb") as out:
        shutil.copyfileobj(resp, out)
    os.replace(tmp, dest)
    return dest


def run_incremental_from_manifest(
    spark: SparkSession,
    manifest_url: str,
    staging_dir: str,
    state_path: str,
    registry_path: str,
    graph_path: str,
    **build_kwargs,
) -> "PipelineResult":
    """ST1 end-to-end from a remote manifest: fetch the manifest (JSON
    ``{"releases": {"3550": <url>, ...}}``), stage only the releases the
    watermark hasn't seen, then run the normal incremental pipeline.
    The manifest is the Spark-native stand-in for the reference's GitHub
    branch listing (ref invoke_pipeline/app.py:174-185)."""
    import urllib.request

    with urllib.request.urlopen(manifest_url) as resp:
        doc = json.load(resp)
    urls: dict[str, str] = doc["releases"]
    available = list(urls)
    state = ReleaseState.load(state_path)
    for release in detect_new_releases(available, state):
        fetch_release(urls[release], staging_dir, release)
    return run_incremental(
        spark,
        staging_dir,
        available,
        state_path=state_path,
        registry_path=registry_path,
        graph_path=graph_path,
        **build_kwargs,
    )


@dataclass
class PipelineResult:
    processed: list[str]
    rejected: list[str]
    graph: GraphTables | None
    # per processed release: {"release", "pre": {label: n}, "post": {label: n}}
    validations: list[dict] = field(default_factory=list)


def validation_snapshot(graph: GraphTables | None) -> dict[str, int]:
    """A7 node counts as a bounded dict (6 labels) — the pre/post-load
    invariant probe (ref `execute_validation_queries/app.py:43-62`, run
    before AND after load by the state machine, `pipeline.asl.json:4-9,
    223-228`)."""
    if graph is None:
        return {}
    from gfe_db_spark.plans.queries import node_counts

    return {r["node"]: r["count"] for r in node_counts(graph).collect()}


def load_invariants_ok(pre: dict[str, int], post: dict[str, int]) -> bool:
    """The post-load gate: an idempotent MERGE can only grow or hold every
    label's node count. A shrinking label after a load means the commit
    destroyed data — the condition the reference's pre/post validation
    queries exist to surface."""
    return all(post.get(label, 0) >= n for label, n in pre.items())


def run_incremental(
    spark: SparkSession,
    data_dir: str,
    available_releases: list[str],
    state_path: str,
    registry_path: str,
    graph_path: str,
    n_buckets: int = 1,
    vacuum_every: int | None = 8,
    keep_graph_manifests: int = 2,
    vacuum_grace_seconds: float | None = None,
    **build_kwargs,
) -> PipelineResult:
    """The whole orchestrator: detect → guard → (build → load → commit)*.

    Loads are serialized (ST6 MaxConcurrency=1 for loads) because the graph
    merge and the accession registry are stateful; builds inside one release
    are fully partition-parallel. Replaying a committed release is a no-op
    (ST3: MERGE idempotence + watermark skip).

    Each graph table commits through the reader-isolated manifest-pointer
    protocol (plans/txtable.py): a reader polling the graph DURING a
    release load always sees one complete before/after snapshot — the
    isolation the reference gets from Neo4j transactions (ref
    load.cyp:9)."""
    state = ReleaseState.load(state_path)
    new = detect_new_releases(available_releases, state)

    from gfe_db_spark.plans.merge import fs_exists

    graph: GraphTables | None = None
    # Hadoop-FS check (graph_path may be hdfs://s3a://); a populated graph
    # dir always contains the nodes_gfe table
    if fs_exists(spark, os.path.join(graph_path, "nodes_gfe")):
        graph = GraphTables.load(spark, graph_path)

    registry = AccessionRegistry(spark, registry_path)
    processed: list[str] = []
    rejected: list[str] = []
    validations: list[dict] = []

    for release in new:
        # the guard considers history + this release (late/out-of-order data)
        if not monotonicity_ok([*state.releases, release]):
            rejected.append(release)
            continue
        dat = os.path.join(data_dir, f"hla.{release}.dat")
        alleles = read_imgt_dat(spark, dat)
        tables = build_release(spark, alleles, release, registry, **build_kwargs)
        try:
            # pre/post invariant probe around the commit (the reference runs
            # its validation queries before AND after load so deltas are
            # observable, pipeline.asl.json:4-9,223-228)
            pre = validation_snapshot(graph)
            # MERGE commit: a cumulative release touches every key, so each
            # graph table is one bucket, rewritten as one file per release.
            # Commit order = data first, then state (crash-safe: a replayed
            # release re-MERGEs idempotently, ST3).
            upsert_graph(
                load_release(spark, tables, release),
                graph_path,
                n_buckets=n_buckets,
            )
            graph = GraphTables.load(spark, graph_path)
            post = validation_snapshot(graph)
        finally:
            # the build's caches serve this release only; a long-running
            # process must not keep every release's alleles and features
            tables.unpersist()
        if not load_invariants_ok(pre, post):
            # the watermark is NOT committed: the release replays after the
            # regression is diagnosed; failing loud beats a silent shrink
            raise RuntimeError(
                f"post-load invariant violation for release {release}: "
                f"pre={pre} post={post}"
            )
        validations.append({"release": release, "pre": pre, "post": post})
        state.commit(release)
        processed.append(release)
        # auto-retention (mirrors the registry's auto-compaction): without
        # it, `_graph_manifests` grows one file — and every member table
        # one manifest + generation — per release until an operator
        # intervenes. Once the graph-manifest count reaches `vacuum_every`,
        # the pin-aware `vacuum_graph` prunes to the newest
        # `keep_graph_manifests` snapshots; a reader that resolved any
        # retained snapshot still finds every file it resolved, and
        # provably-superseded generations are reclaimed immediately.
        if vacuum_every is not None:
            from gfe_db_spark.plans.load import _graph_manifest_dir, vacuum_graph
            from gfe_db_spark.plans.txtable import _list_names

            gmdir = _graph_manifest_dir(graph_path)
            n_gm = sum(
                1
                for name in _list_names(spark, gmdir)
                if name.endswith(".json") and name[:-5].isdigit()
            )
            if n_gm >= vacuum_every:
                vacuum_graph(
                    spark,
                    graph_path,
                    keep_graph_manifests=keep_graph_manifests,
                    grace_seconds=vacuum_grace_seconds,
                )

    return PipelineResult(
        processed=processed, rejected=rejected, graph=graph, validations=validations
    )
