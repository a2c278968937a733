"""Incremental release-loop tests: the release orchestrator (ST1-ST6)."""

from __future__ import annotations

import json

import pytest

from gfe_db_spark.streaming.incremental import (
    committed_releases,
    detect_new_releases,
    monotonicity_ok,
    run_incremental,
)
from tests import gfe_fixtures as fx


def test_release_state_roundtrip(spark, tmp_path):
    """ST2: the watermark is the graph manifest's release record; the
    state path holds only its export, in the reference's state-file shape."""
    from gfe_db_spark.plans.load import GraphTables, read_graph_manifest

    fx.write_release_dat(str(tmp_path), "3550")
    fx.write_release_dat(str(tmp_path), "3560")
    sp = str(tmp_path / "state.json")
    graph = str(tmp_path / "graph")
    assert committed_releases(spark, graph) == []
    for release in ("3550", "3560"):
        run_incremental(spark, str(tmp_path), [release], sp, str(tmp_path / "reg"), graph)
    gdoc = read_graph_manifest(spark, graph)
    assert gdoc["release"] == "3560"
    assert gdoc["releases"] == ["3550", "3560"] == committed_releases(spark, graph)
    assert set(gdoc["tables"]) == {name for name, _df in GraphTables.load(spark, graph).items()}
    doc = json.load(open(sp))
    assert set(doc) == {"timestamp", "repository_url", "releases"}
    assert doc["releases"] == ["3550", "3560"]


def test_detect_and_guard():
    committed = ["3540", "3550"]
    # F5 regex filters branch junk; anti-join drops processed
    assert detect_new_releases(["main", "3550", "3560", "v2", "3570"], committed) == [
        "3560",
        "3570",
    ]
    assert monotonicity_ok(["3540", "3550", "3560"])
    assert not monotonicity_ok(["3540", "3560"])  # gap
    assert not monotonicity_ok(["3540", "3545"])  # off-grid


def _graph_rows(graph) -> dict[str, list]:
    return {name: sorted(df.collect(), key=repr) for name, df in graph.items()}


def test_run_incremental_on_uri_store(spark, tmp_path):
    """Every store path may be a Hadoop URI: with file:// state, registry
    and graph paths two releases commit, the watermark advances, a replay
    is a no-op, and the graph equals the same run's on plain paths."""
    from gfe_db_spark.plans.load import GraphTables

    data_dir = str(tmp_path)
    fx.write_release_dat(data_dir, "3550")
    fx.write_release_dat(data_dir, "3560")

    def run(root: str):
        return run_incremental(
            spark,
            data_dir,
            ["3550", "3560"],
            state_path=f"{root}/state.json",
            registry_path=f"{root}/registry",
            graph_path=f"{root}/graph",
        )

    uri = f"file://{tmp_path}/uri"
    assert run(uri).processed == ["3550", "3560"]
    assert run(uri).processed == []
    assert committed_releases(spark, f"{uri}/graph") == ["3550", "3560"]
    assert json.load(open(tmp_path / "uri" / "state.json"))["releases"] == ["3550", "3560"]
    plain = run(str(tmp_path / "plain"))
    assert plain.processed == ["3550", "3560"]
    assert _graph_rows(GraphTables.load(spark, f"{uri}/graph")) == _graph_rows(plain.graph)


@pytest.fixture(scope="module")
def committed_3550(spark, tmp_path_factory):
    """A store holding release 3550, and a copy that committed 3560
    without interruption."""
    import shutil

    data = str(tmp_path_factory.mktemp("crash_data"))
    fx.write_release_dat(data, "3550")
    fx.write_release_dat(data, "3560")
    base = str(tmp_path_factory.mktemp("crash_base"))
    run_incremental(spark, data, ["3550"], f"{base}/state.json", f"{base}/reg", f"{base}/graph")
    clean = str(tmp_path_factory.mktemp("crash_clean") / "store")
    shutil.copytree(base, clean)
    res = run_incremental(
        spark, data, ["3560"], f"{clean}/state.json", f"{clean}/reg", f"{clean}/graph"
    )
    assert res.processed == ["3560"]
    return data, base, clean


def _inject_fault(monkeypatch, point: str, graph_path: str) -> None:
    import threading

    from gfe_db_spark.plans import txtable
    from gfe_db_spark.streaming import incremental

    def crash(*_args, **_kwargs):
        raise RuntimeError(f"injected crash {point}")

    if point == "after_registry_commit":
        build = incremental.build_release

        def build_then_crash(*args, **kwargs):
            build(*args, **kwargs).unpersist()
            crash()

        monkeypatch.setattr(incremental, "build_release", build_then_crash)
    elif point == "after_5_table_commits":
        publish, lock, done = txtable._publish, threading.Lock(), []

        def publish_five(spark, root, manifest, gen_dir):
            if not root.startswith(graph_path):
                return publish(spark, root, manifest, gen_dir)
            with lock:
                if len(done) == 5:
                    crash()
                publish(spark, root, manifest, gen_dir)
                done.append(root)

        monkeypatch.setattr(txtable, "_publish", publish_five)
    else:  # after the graph-manifest publish, before the state export
        monkeypatch.setattr(incremental, "export_state", crash)


@pytest.mark.parametrize(
    "point",
    ["after_registry_commit", "after_5_table_commits", "before_state_export"],
)
def test_crash_then_replay_matches_uninterrupted_run(
    spark, tmp_path, monkeypatch, committed_3550, point
):
    """A load that dies at any point replays to the uninterrupted result:
    the same accession rows, equal graph tables, and a watermark (graph
    manifest and export) that lists the release once."""
    import shutil

    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.load import GraphTables

    data, base, clean = committed_3550
    store = str(tmp_path / "store")
    shutil.copytree(base, store)
    args = (f"{store}/state.json", f"{store}/reg", f"{store}/graph")

    with monkeypatch.context() as m:
        _inject_fault(m, point, f"{store}/graph")
        with pytest.raises(RuntimeError, match="injected crash"):
            run_incremental(spark, data, ["3560"], *args)
    # only the graph-manifest publish advances the watermark
    published = point == "before_state_export"
    assert committed_releases(spark, f"{store}/graph") == ["3550", "3560"][: 1 + published]
    res = run_incremental(spark, data, ["3560"], *args)
    assert res.processed == ([] if published else ["3560"])

    def registry(root: str) -> list:
        return sorted(AccessionRegistry(spark, f"{root}/reg").load().collect(), key=repr)

    assert registry(store) == registry(clean)
    assert _graph_rows(GraphTables.load(spark, f"{store}/graph")) == _graph_rows(
        GraphTables.load(spark, f"{clean}/graph")
    )
    assert committed_releases(spark, f"{store}/graph") == ["3550", "3560"]
    assert json.load(open(f"{store}/state.json"))["releases"] == ["3550", "3560"]


def test_run_incremental_end_to_end(spark, tmp_path):
    data_dir = str(tmp_path)
    fx.write_release_dat(data_dir, "3550")
    fx.write_release_dat(data_dir, "3560")

    res = run_incremental(
        spark,
        data_dir,
        ["3550", "3560", "3580"],  # 3580 skips 3570 → rejected by the guard
        state_path=str(tmp_path / "state.json"),
        registry_path=str(tmp_path / "registry"),
        graph_path=str(tmp_path / "graph"),
    )
    assert res.processed == ["3550", "3560"]
    assert res.rejected == ["3580"]
    edges = {
        (r["src"], r["dst"]): r["releases"]
        for r in res.graph.edges_has_ipd_allele.collect()
    }
    assert edges[("HLA-Aw1-1-1-1-1", "HLA-A*01:01:01:01")] == [3550, 3560]

    # pre/post validation probes ran around each commit: first release
    # starts from an empty graph, each post is non-shrinking vs its pre,
    # and release N+1's pre equals release N's post (the observable-delta
    # chain the reference's pre/post validation queries provide)
    assert [v["release"] for v in res.validations] == ["3550", "3560"]
    assert res.validations[0]["pre"] == {}
    assert res.validations[1]["pre"] == res.validations[0]["post"]
    for v in res.validations:
        for label, n in v["pre"].items():
            assert v["post"].get(label, 0) >= n

    # replay: nothing new → no-op, graph unchanged (ST3 idempotence)
    res2 = run_incremental(
        spark,
        data_dir,
        ["3550", "3560"],
        state_path=str(tmp_path / "state.json"),
        registry_path=str(tmp_path / "registry"),
        graph_path=str(tmp_path / "graph"),
    )
    assert res2.processed == []
    assert res2.graph.nodes_gfe.count() == res.graph.nodes_gfe.count()


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_run_incremental_releases_build_caches(spark, tmp_path):
    """A release's build caches die with the release: after
    `run_incremental` returns, the block manager holds no RDD it did not
    hold before the call (the session is shared, so compare sets)."""
    data_dir = str(tmp_path)
    fx.write_release_dat(data_dir, "3550")
    fx.write_release_dat(data_dir, "3560")
    before = _persistent_rdd_ids(spark)
    res = run_incremental(
        spark,
        data_dir,
        ["3550", "3560"],
        state_path=str(tmp_path / "state.json"),
        registry_path=str(tmp_path / "registry"),
        graph_path=str(tmp_path / "graph"),
    )
    assert res.processed == ["3550", "3560"]
    assert _persistent_rdd_ids(spark) - before == set()


def test_failed_release_releases_build_caches(spark, tmp_path, monkeypatch):
    """The caches are released when the commit fails too."""
    from gfe_db_spark.streaming import incremental

    def failing_commit(*args, **kwargs):
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(incremental, "upsert_graph", failing_commit)
    fx.write_release_dat(str(tmp_path), "3550")
    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="injected commit failure"):
        run_incremental(
            spark,
            str(tmp_path),
            ["3550"],
            state_path=str(tmp_path / "state.json"),
            registry_path=str(tmp_path / "registry"),
            graph_path=str(tmp_path / "graph"),
        )
    assert _persistent_rdd_ids(spark) - before == set()


def test_tx_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The MERGE substrate contract: a batch touching one key bucket writes
    exactly that bucket, into a fresh generation dir — every file already
    on disk stays byte-for-byte and mtime untouched, and the other buckets
    keep resolving to it."""
    import os

    from gfe_db_spark.plans.txtable import read_table, tx_upsert

    target = str(tmp_path / "t")
    base = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    tx_upsert(base, target, ["k"], n_buckets=8)

    def inventory():
        inv = {}
        for gen in os.listdir(target):
            if not gen.startswith("gen-"):
                continue
            for d in os.listdir(os.path.join(target, gen)):
                if d.startswith("__bucket="):
                    for f in os.listdir(os.path.join(target, gen, d)):
                        p = os.path.join(target, gen, d, f)
                        inv[p] = (os.path.getsize(p), os.path.getmtime(p))
        return inv

    before = inventory()
    assert {p.split(os.sep)[-2] for p in before} == {f"__bucket={b}" for b in range(8)}

    one = spark.createDataFrame([(42, -1)], "k long, v long")
    touched, _gen = tx_upsert(one, target, ["k"], n_buckets=8)
    assert len(touched) == 1

    after = inventory()
    assert {p: after[p] for p in before} == before  # nothing rewritten in place
    assert {p.split(os.sep)[-2] for p in set(after) - set(before)} == {
        f"__bucket={touched[0]}"
    }

    out = read_table(spark, target)
    assert out.count() == 1000  # upsert, not append
    assert out.filter("k = 42").collect()[0].v == -1  # ON MATCH SET wins
    # create_only: existing row survives, new key inserted
    two = spark.createDataFrame([(42, 777), (5000, 1)], "k long, v long")
    tx_upsert(two, target, ["k"], on_match="create_only", n_buckets=8)
    out = read_table(spark, target)
    assert out.count() == 1001
    assert out.filter("k = 42").collect()[0].v == -1


def test_run_incremental_from_manifest(spark, tmp_path):
    """ST1 from a URL manifest: fetch → detect → build → load, end to end,
    with idempotent staging (a second run re-fetches nothing)."""
    import json as _json
    import os

    from gfe_db_spark.streaming.incremental import run_incremental_from_manifest

    remote = tmp_path / "remote"
    remote.mkdir()
    fx.write_release_dat(str(remote), "3550")
    fx.write_release_dat(str(remote), "3560")
    manifest = tmp_path / "manifest.json"
    manifest.write_text(
        _json.dumps(
            {
                "repository_url": "synthetic://imgt-hla",
                "releases": {
                    r: f"file://{remote}/hla.{r}.dat" for r in ("3550", "3560")
                },
            }
        )
    )
    staging = str(tmp_path / "staging")
    kwargs = dict(
        state_path=str(tmp_path / "state.json"),
        registry_path=str(tmp_path / "registry"),
        graph_path=str(tmp_path / "graph"),
    )
    res = run_incremental_from_manifest(
        spark, f"file://{manifest}", staging, **kwargs
    )
    assert res.processed == ["3550", "3560"]
    assert res.graph.nodes_gfe.count() > 0

    mtimes = {f: os.path.getmtime(os.path.join(staging, f)) for f in os.listdir(staging)}
    res2 = run_incremental_from_manifest(
        spark, f"file://{manifest}", staging, **kwargs
    )
    assert res2.processed == []  # watermark skip
    assert {
        f: os.path.getmtime(os.path.join(staging, f)) for f in os.listdir(staging)
    } == mtimes  # nothing re-fetched


def test_load_invariants_gate():
    from gfe_db_spark.streaming.incremental import load_invariants_ok

    assert load_invariants_ok({}, {"GFE": 5})
    assert load_invariants_ok({"GFE": 5}, {"GFE": 5})
    assert load_invariants_ok({"GFE": 5}, {"GFE": 9, "Sequence": 1})
    assert not load_invariants_ok({"GFE": 5}, {"GFE": 4})
    assert not load_invariants_ok({"GFE": 5, "Sequence": 2}, {"GFE": 9})
