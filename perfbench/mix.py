"""The graph-query mix: six query kinds sent round-robin, each with a seeded
target, plus the expected answer of every kind from the release model.

Lookups touch one allele or one feature; scans touch whole tables.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from gfe_db_spark.plans.load import GraphTables
from gfe_db_spark.plans.motif import find, run_cypher
from gfe_db_spark.plans.queries import features_of_allele, node_counts

from gen import Model

# node_counts first: a mixed-workload reader identifies each snapshot by it
KINDS = [
    "node_counts",
    "allele_features",
    "cypher_doc",
    "feature_alleles",
    "allele_gfe",
    "release_histogram",
]

# the query text of the reference's docs (`(:WHO {name})-[]-(:GFE)-[]-(f:Feature)`),
# also returning the accession so the answer pins the allele's feature set
DOC_QUERY = (
    "MATCH (:WHO {name:'%s'})-[]-(:GFE)-[]-(f:Feature) "
    "RETURN f.term, f.rank, f.accession ORDER BY f.term, f.rank"
)
ALLELE_MOTIF = "(w:IPD_Allele)<-[:HAS_IPD_ALLELE]-(g:GFE)-[:HAS_FEATURE]->(f:Feature)"
# A8, the release histogram validation query, in its Cypher text
A8_QUERY = (
    "MATCH (:GFE)-[r:HAS_IPD_ALLELE]->(:IPD_Allele) "
    "WITH r, apoc.coll.toSet(r.releases) as releases "
    "UNWIND toIntegerList(releases) as release_version "
    "RETURN DISTINCT release_version, count(release_version) as count "
    "ORDER BY release_version;"
)

# the layer whose code builds each kind's plan; allele_gfe reads one table
LAYER = {
    "allele_features": "plans.motif",
    "cypher_doc": "plans.motif",
    "feature_alleles": "plans.motif",
    "release_histogram": "plans.motif",
    "node_counts": "plans.queries.validate",
    "allele_gfe": "plans.txtable",
}


def pick_target(kind: str, model: Model, names: list[str], rng: random.Random):
    """A seeded target that exists in the snapshot `model` describes."""
    if kind in ("node_counts", "release_histogram"):
        return None
    name = rng.choice(names)
    if kind != "feature_alleles":
        return name
    allele = model.alleles[name]
    i = rng.randrange(len(allele.feats))
    term, rank, _seq = allele.feats[i]
    return (allele.locus, term, rank, model.accession(allele, i))


def plan(graph: GraphTables, kind: str, target):
    """Build the query's DataFrame (parse, compile and analyse; no job)."""
    if kind == "allele_features":
        return features_of_allele(graph, target)
    if kind == "cypher_doc":
        return run_cypher(graph, DOC_QUERY % target)
    if kind == "feature_alleles":
        locus, term, rank, acc = target
        return (
            find(graph, ALLELE_MOTIF)
            .filter(
                (F.col("f_locus") == locus)
                & (F.col("f_term") == term)
                & (F.col("f_rank") == str(rank))
                & (F.col("f_accession") == str(acc))
            )
            .select("w_name")
            .distinct()
        )
    if kind == "allele_gfe":
        return graph.edges_has_ipd_allele.filter(F.col("dst") == target).select("src")
    if kind == "node_counts":
        return node_counts(graph)
    if kind == "release_histogram":
        return run_cypher(graph, A8_QUERY)
    raise ValueError(f"unknown query kind {kind!r}")


def answer(kind: str, rows) -> object:
    """A comparable form of the collected rows."""
    if kind == "allele_features":
        return [(r["term"], r["rank"]) for r in rows]
    if kind == "cypher_doc":
        return sorted((r["f_term"], int(r["f_rank"]), int(r["f_accession"])) for r in rows)
    if kind == "feature_alleles":
        return sorted(r["w_name"] for r in rows)
    if kind == "allele_gfe":
        return [r["src"] for r in rows]
    if kind == "node_counts":
        return {r["node"]: r["count"] for r in rows}
    return [(r["release_version"], r["count"]) for r in rows]


def expected(kind: str, target, model: Model) -> object:
    if kind == "allele_features":
        return sorted((t, r) for t, r, _a in model.features_of(target))
    if kind == "cypher_doc":
        return model.features_of(target)
    if kind == "feature_alleles":
        return model.alleles_with(*target)
    if kind == "allele_gfe":
        return [model.gfe[target]]
    if kind == "node_counts":
        return model.node_counts()
    return model.release_histogram()
