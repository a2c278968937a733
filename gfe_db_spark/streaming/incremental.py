"""Release-grain incremental processing (ref §2.8 ST1-ST6).

The reference's orchestration stack (EventBridge cron → Lambda state diff →
Step Functions → Batch/SSM, `invoke_pipeline/app.py` + `pipeline.asl.json`)
collapses into: new-release detection against the watermark, a
monotonicity guard, and serialized build→load→commit per release with
idempotent MERGE semantics. Every commit — accession registry, graph
tables, graph manifest — goes through the manifest-pointer protocol
(`plans/txtable.py`), so a reader polling during a release load always
resolves one complete before/after snapshot.

The watermark (ST2, the reference's `IMGTHLA-repository-state.json`) is
the `releases` list of the newest graph manifest, the record that commits
the graph (`plans/load.upsert_graph`): a release is processed exactly when
its graph manifest publishes, on any Hadoop store, and a snapshot restore
rolls the watermark back with the data. `state_path` only receives an
export of it; nothing reads that file back.
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
from gfe_db_spark.plans.load import (
    GraphTables,
    _graph_manifest_dir,
    load_release,
    upsert_graph,
    vacuum_graph,
)
from gfe_db_spark.plans.merge import fs_write_text, hadoop_fs
from gfe_db_spark.plans.snapshots import list_snapshots
from gfe_db_spark.plans.txtable import latest_numbered_json, numbered_jsons
from gfe_db_spark.sources.imgt import read_imgt_dat

# F5 (ref invoke_pipeline/app.py:174-185, app.py:32)
RELEASE_PATTERN = re.compile(r"^\d{2,3}0$")


def committed_releases(spark: SparkSession, graph_path: str) -> list[str]:
    """ST2: the processed-release watermark — the sorted `releases` list
    of the newest graph manifest ([] before the first commit)."""
    _n, gdoc = latest_numbered_json(spark, _graph_manifest_dir(graph_path))
    return [] if gdoc is None else gdoc["releases"]


def export_state(spark: SparkSession, path: str, releases: list[str]) -> None:
    """Write the watermark in the reference's state-file shape
    (``{"timestamp", "repository_url", "releases"}``) through the Hadoop
    FS: temp write, then rename over the old export. A store whose rename
    refuses to replace a file (HDFS) gets delete + rename instead."""
    doc = {
        "timestamp": datetime.now(timezone.utc).isoformat(timespec="milliseconds"),
        "repository_url": "synthetic://imgt-hla",
        "releases": releases,
    }
    tmp = path + ".tmp"
    fs_write_text(spark, tmp, json.dumps(doc, indent=2))
    fs, hpath = hadoop_fs(spark, path)
    htmp = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    if not fs.rename(htmp, hpath):
        fs.delete(hpath, False)
        fs.rename(htmp, hpath)


def detect_new_releases(available: list[str], committed: list[str]) -> list[str]:
    """ST1/J7: valid-release filter + set-difference against the watermark
    (ref invoke_pipeline/app.py:258-265), ascending order."""
    valid = [r for r in available if RELEASE_PATTERN.match(r)]
    new = set(valid) - set(committed)
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
    for release in detect_new_releases(available, committed_releases(spark, graph_path)):
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
    protocol (plans/txtable.py), and the graph manifest that pins them also
    records the release: one publish commits the data and advances the
    watermark, so a polling reader always sees one complete before/after
    snapshot — the isolation the reference gets from Neo4j transactions
    (ref load.cyp:9) — and a crash anywhere before that publish leaves
    the release to replay idempotently. At the end of every run the
    watermark is exported to `state_path` (`export_state`)."""
    committed = committed_releases(spark, graph_path)
    new = detect_new_releases(available_releases, committed)
    graph = GraphTables.load(spark, graph_path) if committed else None

    registry = AccessionRegistry(spark, registry_path)
    processed: list[str] = []
    rejected: list[str] = []
    validations: list[dict] = []

    for release in new:
        # the guard considers history + this release (late/out-of-order data)
        if not monotonicity_ok([*committed, release]):
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
            # graph table is one bucket, rewritten as one file per release;
            # the graph manifest published last records the release
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
        committed = committed_releases(spark, graph_path)
        if not load_invariants_ok(pre, post):
            # the release is committed (its graph manifest is the commit
            # point); failing loud beats a silent shrink, and a snapshot
            # restore rolls the graph and the watermark back together
            raise RuntimeError(
                f"post-load invariant violation for release {release}: "
                f"pre={pre} post={post}"
            )
        validations.append({"release": release, "pre": pre, "post": post})
        processed.append(release)
        # auto-retention (mirrors the registry's auto-compaction): without
        # it, `_graph_manifests` grows one file — and every member table
        # one manifest + generation — per release until an operator
        # intervenes. Once the unpinned graph-manifest count reaches
        # `vacuum_every`, the pin-aware `vacuum_graph` prunes to the newest
        # `keep_graph_manifests` plus the snapshot pins; a reader that
        # resolved any retained snapshot still finds every file it resolved.
        if vacuum_every is not None:
            gms = set(numbered_jsons(spark, _graph_manifest_dir(graph_path)))
            if len(gms - set(list_snapshots(spark, graph_path).values())) >= vacuum_every:
                vacuum_graph(
                    spark,
                    graph_path,
                    keep_graph_manifests=keep_graph_manifests,
                    grace_seconds=vacuum_grace_seconds,
                )

    if committed:
        # rewritten after every run (as the reference rewrites its state
        # file), so a crash between a publish and the export heals next run
        export_state(spark, state_path, committed)
    return PipelineResult(
        processed=processed, rejected=rejected, graph=graph, validations=validations
    )
