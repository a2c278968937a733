"""The load path (ref §3.2): build tables → property-graph node/edge
DataFrames with MERGE (dedup-upsert) semantics.

The ten `apoc.periodic.iterate` statements in `load.cyp:1-138` become ten
DataFrame pipelines. Cross-release accumulation (`ON MATCH SET`) is
`upsert_graph`'s per-table MERGE into manifest-pointer tables;
the releases array union is the exact builtin composition
`array_sort ∘ array_distinct ∘ array_union` (`load.cyp:95`).

Key corrections over the reference (SURVEY §7 "inconsistencies"):
  - GFE keyed consistently on `name` (`create_constraints.cyp:1` says
    gfe_name but `load.cyp:7` merges on name);
  - HAS_SEQUENCE joins on `seq_id` (hash) instead of the multi-kb
    sequence string (`load.cyp:119`);
  - submit_date is a parameter, not `date()` (`load.cyp:109`), so loads
    are reproducible.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, fields
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gfe_db_spark.functions.scalars import release_undotted
from gfe_db_spark.plans.build import BuildTables
from gfe_db_spark.plans.merge import fs_exists
from gfe_db_spark.plans.txtable import (
    DEFAULT_GRACE_SECONDS,
    fs_delete,
    fs_read_text,
    latest_numbered_json,
    numbered_jsons,
    publish_numbered_json,
    read_manifest,
    tx_read,
    tx_upsert,
    tx_vacuum,
)

# ref load.cyp:11-16 singleton
SUBMITTER = {
    "institution": "IPD",
    "name": "IPD-IMGT",
    "url": "https://www.ebi.ac.uk/ipd/imgt/hla/",
    "email": "<email>",
}


@dataclass
class GraphTables:
    nodes_gfe: DataFrame
    nodes_sequence: DataFrame
    nodes_feature: DataFrame
    nodes_ipd_allele: DataFrame
    nodes_ipd_accession: DataFrame
    nodes_submitter: DataFrame
    edges_has_ipd_allele: DataFrame
    edges_has_ipd_accession: DataFrame
    edges_submitted: DataFrame
    edges_has_sequence: DataFrame
    edges_has_feature: DataFrame
    # the release the tables hold: set by `load_release`, recorded in the
    # graph manifest by `upsert_graph`; not a field, so not in `items()`
    release: ClassVar[str | None] = None

    def items(self):
        return [(f.name, getattr(self, f.name)) for f in fields(self)]

    @staticmethod
    def load(spark: SparkSession, path: str, as_of: int | None = None) -> "GraphTables":
        """Open the graph under `path` through ONE graph manifest: the
        newest, or number `as_of` while it is retained (`vacuum_graph`
        keeps the newest few and every snapshot pin). It pins every table
        to the generation one load committed, so the snapshot is
        consistent ACROSS tables: a reader polling during a release load
        sees the whole graph before the load or after it (see
        `upsert_graph`). A path with no graph manifest raises
        FileNotFoundError."""
        gdoc = read_graph_manifest(spark, path, as_of)
        return GraphTables(**{
            name: tx_read(spark, os.path.join(path, name), generation=gen)
            for name, gen in gdoc["tables"].items()
        })


def _dedup_first(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    """Deterministic MERGE dedup: first row per key under an explicit
    ordering (the reference's MERGE takes CSV arrival order — we make the
    winner explicit)."""
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def load_release(
    spark: SparkSession,
    tables: BuildTables,
    release: str,
    submit_date: str = "2024-01-01",
) -> GraphTables:
    """Run the ten MERGE pipelines for one release. Accumulation across
    releases (idempotent on replay, ST3) is `upsert_graph`'s commit."""
    gfe_seq = tables.gfe_sequences

    # A1: MERGE (gfe:GFE {name}) ON CREATE SET locus   (load.cyp:2-9)
    nodes_gfe = _dedup_first(
        gfe_seq.select(F.col("gfe_name").alias("name"), "locus"), ["name"], ["locus"]
    )

    # A5: singleton Submitter                          (load.cyp:10-16)
    nodes_submitter = spark.createDataFrame([SUBMITTER])

    # A2: Sequence node, name = gfe_name (ref quirk), last-writer props →
    # deterministic pick: max hla_name                  (load.cyp:18-33)
    nodes_sequence = _dedup_first(
        gfe_seq.select(
            F.col("gfe_name").alias("name"), "seq_id", "locus", "sequence", "length"
        ),
        ["name"],
        [F.desc("seq_id")],
    )

    # A3: Feature node on 5-col identity               (load.cyp:35-48)
    nodes_feature = tables.all_features.select(
        "locus", "rank", "term", "accession", "sequence"
    ).dropDuplicates(["locus", "rank", "term", "accession", "sequence"])

    # A4 + J5/F6: IPD_Allele with pivoted ARD annotations (load.cyp:49-83)
    ipd_base = _dedup_first(
        gfe_seq.select(F.col("hla_name").alias("name"), F.col("locus").alias("gene")),
        ["name"],
        ["gene"],
    )
    ard = (
        tables.all_groups.filter(F.col("ard_name").isin("G", "lg"))
        .groupBy("hla_name")
        .pivot("ard_name", ["G", "lg"])
        .agg(F.first("ard_id"))
    )
    nodes_ipd_allele = (
        ipd_base.join(ard, ipd_base.name == ard.hla_name, "left")
        .select("name", "gene", "G", "lg")
    )

    nodes_ipd_accession = gfe_seq.select(F.col("acc_name").alias("name")).dropDuplicates(
        ["name"]
    )

    # J2/A6: HAS_IPD_ALLELE with releases array         (load.cyp:85-95)
    edges_has_ipd_allele = (
        gfe_seq.select(
            F.col("gfe_name").alias("src"),
            F.col("hla_name").alias("dst"),
            release_undotted(F.col("imgt_release")).cast("int").alias("release"),
        )
        .groupBy("src", "dst")
        .agg(F.array_sort(F.collect_set("release")).alias("releases"))
    )

    # HAS_IPD_ACCESSION: release set ON CREATE only     (load.cyp:96-97)
    edges_has_ipd_accession = _dedup_first(
        gfe_seq.select(
            F.col("gfe_name").alias("src"),
            F.col("acc_name").alias("dst"),
            F.col("imgt_release").alias("release"),
        ),
        ["src", "dst"],
        ["release"],
    )

    # J6: SUBMITTED via cross join with the singleton   (load.cyp:101-111)
    edges_submitted = nodes_gfe.select(
        F.lit(SUBMITTER["email"]).alias("src"),
        F.col("name").alias("dst"),
        F.lit(submit_date).cast("date").alias("submit_date"),
    )

    # J3: HAS_SEQUENCE keyed by hash, not raw string    (load.cyp:113-122)
    edges_has_sequence = (
        gfe_seq.alias("g")
        .join(
            nodes_sequence.alias("s"),
            F.col("g.seq_id") == F.col("s.seq_id"),
        )
        .select(F.col("g.gfe_name").alias("src"), F.col("s.name").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )

    # J4: HAS_FEATURE on composite key                  (load.cyp:124-138)
    edges_has_feature = tables.all_features.select(
        F.col("gfe_name").alias("src"),
        F.col("locus").alias("dst_locus"),
        F.col("rank").alias("dst_rank"),
        F.col("term").alias("dst_term"),
        F.col("accession").alias("dst_accession"),
    ).dropDuplicates()

    graph = GraphTables(
        nodes_gfe=nodes_gfe,
        nodes_sequence=nodes_sequence,
        nodes_feature=nodes_feature,
        nodes_ipd_allele=nodes_ipd_allele,
        nodes_ipd_accession=nodes_ipd_accession,
        nodes_submitter=nodes_submitter,
        edges_has_ipd_allele=edges_has_ipd_allele,
        edges_has_ipd_accession=edges_has_ipd_accession,
        edges_submitted=edges_submitted,
        edges_has_sequence=edges_has_sequence,
        edges_has_feature=edges_has_feature,
    )
    graph.release = release
    return graph


# ON MATCH rule per table, mirroring load.cyp: (merge keys, rule).
# 'create_only' = ON CREATE only; 'update' = ON MATCH SET (new wins);
# 'releases_union' = the A6 releases array set-union.
MERGE_RULES: dict[str, tuple[list[str], str]] = {
    "nodes_gfe": (["name"], "create_only"),
    "nodes_sequence": (["name"], "update"),
    "nodes_feature": (["locus", "rank", "term", "accession", "sequence"], "create_only"),
    "nodes_ipd_allele": (["name"], "update"),
    "nodes_ipd_accession": (["name"], "create_only"),
    "nodes_submitter": (["email"], "create_only"),
    "edges_has_ipd_allele": (["src", "dst"], "releases_union"),
    "edges_has_ipd_accession": (["src", "dst"], "create_only"),
    "edges_submitted": (["src", "dst"], "create_only"),
    "edges_has_sequence": (["src", "dst"], "create_only"),
    "edges_has_feature": (
        ["src", "dst_locus", "dst_rank", "dst_term", "dst_accession"],
        "create_only",
    ),
}


def _graph_manifest_dir(graph_path: str) -> str:
    return os.path.join(graph_path, "_graph_manifests")


def read_graph_manifest(spark: SparkSession, graph_path: str, n: int | None = None) -> dict:
    """Graph manifest `n` (default: the newest), the graph's commit record
    ``{"generation", "tables": {table: generation}, "release",
    "releases"}``; FileNotFoundError if it is not there."""
    gmdir = _graph_manifest_dir(graph_path)
    nums = numbered_jsons(spark, gmdir) if n is None else [n]
    path = f"{gmdir}/{nums[-1]:08d}.json" if nums else None
    if path is None or not fs_exists(spark, path):
        raise FileNotFoundError(f"no committed manifest under {gmdir}")
    return json.loads(fs_read_text(spark, path))


def _releases_union(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """The A6 ON MATCH combine: set-union of the `releases` arrays per edge
    (load.cyp:93-95). Groups by every other column — the (src, dst) keys,
    plus ``__bucket`` on disk commits, which is a function of the keys, so
    grouping by it too is exact."""
    return (
        existing.unionByName(batch)
        .groupBy(*[c for c in existing.columns if c != "releases"])
        .agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("releases")))).alias(
                "releases"
            )
        )
    )


def _merge_args(
    name: str,
) -> tuple[list[str], str, Callable[[DataFrame, DataFrame], DataFrame] | None]:
    """(keys, on_match, merge_fn) for one table's MERGE_RULES entry."""
    keys, rule = MERGE_RULES[name]
    if rule == "releases_union":
        return keys, "update", _releases_union
    return keys, rule, None


def upsert_graph(
    new: GraphTables,
    graph_path: str,
    n_buckets: int = 1,
    layout: str = "tx",
) -> dict[str, list[int]]:
    """Commit one release's graph tables into the on-disk accumulated graph:
    each table is a manifest-pointer table (`plans/txtable.tx_upsert`)
    keyed on its merge key. IMGT/HLA releases are cumulative, so every
    release re-sends every allele and touches every key: bucket pruning
    cannot skip anything, and each table is stored as ONE bucket that a
    release rewrites in one new file. `n_buckets` sizes a new table only;
    an existing table keeps the count its manifest records. Each table's
    ON MATCH rule is its MERGE_RULES entry, applied by
    `plans/merge.merge_clustered`. Returns touched buckets per table.

    A table commit lands in a fresh generation dir published by an atomic
    manifest rename. AFTER all 11, ONE graph manifest
    (``_graph_manifests/N.json``) is published: the graph's one commit
    point and release record. It pins each table to the generation this
    load's own commit published and records `new.release` (set by
    `load_release`) plus the sorted list of committed releases, the
    watermark. `GraphTables.load` resolves through it, so a polling reader
    sees the whole graph before the load or after it, never release N's
    nodes with release N-1's edges (the cross-table atomicity the
    reference gets from Neo4j transactions, ref load.cyp:9).

    `layout` accepts only ``"tx"`` (anything else raises ValueError); the
    keyword stays because existing wrappers forward ``layout="tx"``."""
    if layout != "tx":
        raise ValueError(f"unknown graph layout {layout!r}; only 'tx' is supported")
    # a tx commit into a path holding non-manifest data would start from an
    # empty table and publish a graph manifest hiding that data — refuse
    spark = new.nodes_gfe.sparkSession
    probe = os.path.join(graph_path, "nodes_gfe")
    if (
        not fs_exists(spark, _graph_manifest_dir(graph_path))
        and fs_exists(spark, probe)
        and not fs_exists(spark, os.path.join(probe, "_manifests"))
    ):
        raise ValueError(
            f"graph at {graph_path} holds non-manifest data; a tx commit "
            "would start from an empty table and hide it"
        )

    def commit_one(item):
        name, df = item
        keys, on_match, merge_fn = _merge_args(name)
        root = os.path.join(graph_path, name)
        m = read_manifest(spark, root)
        return name, tx_upsert(
            df,
            root,
            keys,
            on_match=on_match,
            n_buckets=n_buckets if m is None else m["n_buckets"],
            merge_fn=merge_fn,
        )

    # the 11 table MERGEs are independent — run them as concurrent driver
    # jobs so the cluster pipelines them instead of paying 11 sequential
    # job-latency rounds (intra-release parallelism; releases themselves
    # stay serialized per ST6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        commits = dict(pool.map(commit_one, new.items()))

    # cross-table atomic publish: pin every table at the generation this
    # load just committed; readers resolve the graph through this single
    # pointer (see GraphTables.load)
    gmdir = _graph_manifest_dir(graph_path)
    n, prev = latest_numbered_json(spark, gmdir)
    n = (n or 0) + 1
    releases = set(prev["releases"] if prev else []) | ({new.release} - {None})
    doc = {
        "generation": n,
        "tables": {name: gen for name, (_t, gen) in commits.items()},
        "release": new.release,
        "releases": sorted(releases, key=int),
    }
    publish_numbered_json(spark, gmdir, n, doc)
    return {name: touched for name, (touched, _g) in commits.items()}


def vacuum_graph(
    spark: SparkSession,
    graph_path: str,
    keep_graph_manifests: int = 2,
    keep_manifests: int = 2,
    grace_seconds: float | None = None,
) -> list[str]:
    """Graph-aware vacuum for a graph committed by `upsert_graph`: the
    ONLY safe way to reclaim space under member tables, because a graph
    manifest pins each table to a FIXED generation — a per-table
    `tx_vacuum` with no pins can prune the very manifest a retained graph
    manifest still references (two compactions, or keep_manifests=1,
    suffice), breaking `GraphTables.load`.

    It prunes graph manifests to the newest `keep_graph_manifests` plus
    every snapshot pin (`plans/snapshots.py`), then vacuums each member
    table with the generations the RETAINED graph manifests pin added to
    its keep set: a reader that resolved any retained graph manifest still
    finds every file it resolved. Returns every deleted path."""
    from gfe_db_spark.plans.snapshots import list_snapshots

    if grace_seconds is None:
        grace_seconds = DEFAULT_GRACE_SECONDS
    gmdir = _graph_manifest_dir(graph_path)
    nums = numbered_jsons(spark, gmdir)
    if not nums:
        raise FileNotFoundError(f"no graph manifests under {graph_path}")
    retained = set(nums[-max(keep_graph_manifests, 1):])
    retained |= set(list_snapshots(spark, graph_path).values()) & set(nums)
    removed: list[str] = []
    for n in nums:
        if n not in retained:
            path = f"{gmdir}/{n:08d}.json"
            fs_delete(spark, path)
            removed.append(path)
    # union of per-table generations pinned by the retained graph snapshots
    pins: dict[str, set[int]] = {}
    for n in sorted(retained):
        for tname, gen in read_graph_manifest(spark, graph_path, n)["tables"].items():
            pins.setdefault(tname, set()).add(gen)
    for f in fields(GraphTables):
        removed.extend(
            tx_vacuum(
                spark,
                os.path.join(graph_path, f.name),
                keep_manifests=keep_manifests,
                grace_seconds=grace_seconds,
                pin_generations=pins.get(f.name, set()),
            )
        )
    return removed
