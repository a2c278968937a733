"""Streaming + incremental tests: the release orchestrator (ST1-ST6) and
Structured Streaming operators driven to completion on local parquet."""

from __future__ import annotations

import json
import os

import pytest

from gfe_db_spark.streaming.incremental import (
    committed_releases,
    detect_new_releases,
    monotonicity_ok,
    run_incremental,
)
from gfe_db_spark.streaming.structured import (
    read_event_stream,
    run_to_memory,
    session_counts,
    windowed_counts,
)
from tests import gfe_fixtures as fx
from tests.conftest import SF_SMOKE


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


def test_structured_streaming_windows(spark):
    events = read_event_stream(spark, f"{SF_SMOKE}/events.parquet")
    run_to_memory(windowed_counts(events), "win_counts", output_mode="append")
    out = spark.sql("SELECT * FROM win_counts")
    # watermark append-mode emits only closed windows; batch totals bound it
    assert out.count() > 0
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert out.agg({"n": "sum"}).first()[0] <= batch.count()


def test_structured_streaming_sessions(spark):
    events = read_event_stream(spark, f"{SF_SMOKE}/events.parquet")
    run_to_memory(session_counts(events), "sess_counts", output_mode="append")
    out = spark.sql("SELECT * FROM sess_counts")
    assert out.count() > 0
    assert out.filter("session_end < session_start").count() == 0


def test_stateful_user_totals_accumulates_across_batches(spark, tmp_path):
    import shutil

    from gfe_db_spark.streaming.structured import stateful_user_totals

    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src)
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{src}/batch1.parquet")

    events = read_event_stream(spark, src)
    q = (
        stateful_user_totals(events)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # second batch: same file again → every count doubles (state persisted)
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{src}/batch2.parquet")
    q.processAllAvailable()
    q.stop()

    out = spark.sql(
        "SELECT user_id, max(n_events) n FROM user_totals GROUP BY user_id"
    )
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    expected = {r["user_id"]: 2 * r["n"] for r in batch.groupBy("user_id").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    got = {r["user_id"]: r["n"] for r in out.collect()}
    assert got == expected


def test_foreach_batch_upsert(spark, tmp_path):
    from gfe_db_spark.plans.txtable import read_table
    from gfe_db_spark.streaming.structured import foreach_batch_upsert

    target = str(tmp_path / "events_upserted")
    events = read_event_stream(spark, f"{SF_SMOKE}/events.parquet")
    writer = foreach_batch_upsert(events.select("event_id", "user_id", "value"), target, ["event_id"])
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    n1 = read_table(spark, target).count()  # the sink is a manifest table
    assert n1 == 1000
    # replaying the same input is idempotent (ST3)
    events2 = read_event_stream(spark, f"{SF_SMOKE}/events.parquet")
    writer2 = foreach_batch_upsert(events2.select("event_id", "user_id", "value"), target, ["event_id"])
    q2 = writer2.start()
    q2.processAllAvailable()
    q2.stop()
    assert read_table(spark, target).count() == n1


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


def test_progress_heartbeat_listener(spark, tmp_path):
    """ST5: the heartbeat listener appends started/progress/terminated
    NDJSON lines while a stream runs; rows add up to the input."""
    import json as _json
    import time

    from gfe_db_spark.streaming.progress import attach_heartbeat

    hb_path = str(tmp_path / "heartbeat.ndjson")
    hb = attach_heartbeat(spark, hb_path)
    try:
        events = read_event_stream(spark, f"{SF_SMOKE}/events.parquet")
        run_to_memory(
            events.groupBy("event_type").count(), "hb_counts", output_mode="complete"
        )
        # listener bus delivers asynchronously — poll briefly
        for _ in range(50):
            if os.path.exists(hb_path) and any(
                _json.loads(ln)["event"] == "terminated"
                for ln in open(hb_path)
            ):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(hb)

    lines = [_json.loads(ln) for ln in open(hb_path)]
    kinds = {ln["event"] for ln in lines}
    assert {"started", "progress", "terminated"} <= kinds
    rows = sum(ln.get("num_input_rows", 0) for ln in lines if ln["event"] == "progress")
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert rows == batch.count()


def test_ewma_matches_plain_recurrence(spark):
    """The higher-order-fold EWMA equals the plain-Python recurrence on a
    hand-ordered sequence (including a null value treated as 0)."""
    from gfe_db_spark.queries.streaming import ewma_user_value
    from gfe_db_spark.sources.tables import table
    from tests.conftest import SF_SMOKE

    ev = table(spark, SF_SMOKE, "events")
    got = {r.user_id: r for r in ewma_user_value(spark, SF_SMOKE).collect()}
    rows = sorted(
        ev.select("user_id", "ts", "event_id", "value").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    expect: dict[int, float] = {}
    for r in rows:
        v = 0.0 if r.value is None else r.value
        expect[r.user_id] = (
            v if r.user_id not in expect else 0.2 * v + 0.8 * expect[r.user_id]
        )
    for uid, r in got.items():
        assert abs(r.ewma_value - round(expect[uid], 6)) < 1e-6, uid


def test_gapfill_locf_fills_planted_gap(spark, tmp_path):
    """A bucket with no events appears in the gap-filled output with n=0
    and the previous bucket's average carried forward."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gfe_db_spark.queries.streaming import timeseries_gapfill_locf

    # events at hours 0-5 and 18-23 → the 06:00 and 12:00 buckets are gaps
    ts = [pd.Timestamp("2024-03-01 01:00:00"), pd.Timestamp("2024-03-01 19:00:00")]
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": ts,
            "user_id": [1, 1],
            "event_type": ["click", "click"],
            "value": [10.0, 30.0],
            "props": ["{}", "{}"],
        }
    )
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), d / "events.parquet")
    out = {r.window_start: r for r in timeseries_gapfill_locf(spark, str(d)).collect()}
    assert len(out) == 4  # 00,06,12,18
    assert out["2024-03-01 06:00:00"].n == 0
    assert out["2024-03-01 06:00:00"].locf_value == 10.0  # carried forward
    assert out["2024-03-01 12:00:00"].n == 0
    assert out["2024-03-01 18:00:00"].locf_value == 30.0


def test_attribution_purchase_without_prior_click(spark, tmp_path):
    """A purchase with no preceding click is unattributed; one with clicks
    before AND after attributes to the latest strictly-before click."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gfe_db_spark.queries.streaming import attribution_last_touch

    t0 = pd.Timestamp("2024-03-01 10:00:00")
    rows = [
        (1, t0, 1, "purchase", 1.0, "{}"),                       # no prior click
        (2, t0 + pd.Timedelta(hours=1), 1, "click", 1.0, "{}"),
        (3, t0 + pd.Timedelta(hours=2), 1, "click", 1.0, "{}"),
        (4, t0 + pd.Timedelta(hours=3), 1, "purchase", 1.0, "{}"),
        (5, t0 + pd.Timedelta(hours=4), 1, "click", 1.0, "{}"),  # after — ignored
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), d / "events.parquet")
    got = {r.event_id: r for r in attribution_last_touch(spark, str(d)).collect()}
    assert set(got) == {1, 4}
    assert not got[1].attributed and got[1].attributed_click_ts is None
    assert got[4].attributed and got[4].attributed_click_ts == "2024-03-01 12:00:00"


def test_stream_dedup_replay_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark end to end: a replayed copy of the
    whole input arriving in a LATER micro-batch adds nothing to the sink —
    in-window duplicates are dropped by dedup state, older-than-watermark
    replays by the late filter. Either way at-least-once input yields
    effectively-once output."""
    import shutil
    import uuid

    from gfe_db_spark.streaming.structured import dedup_events, read_event_stream
    from tests.conftest import SF_SMOKE

    src = tmp_path / "src"
    src.mkdir()
    shutil.copyfile(f"{SF_SMOKE}/events.parquet", src / "a.parquet")
    n_one_copy = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()

    name = f"sdr_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_events(read_event_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == n_one_copy
        shutil.copyfile(f"{SF_SMOKE}/events.parquet", src / "b.parquet")  # replay
        q.processAllAvailable()
        assert spark.table(name).count() == n_one_copy
    finally:
        q.stop()


def test_watermark_drops_late_data(spark, tmp_path):
    """Watermarked windowed agg (append mode): an event arriving in batch 2
    with a timestamp older than the advanced watermark is dropped — its
    window's emitted count excludes it (bounded-state contract at scale)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gfe_db_spark.streaming.structured import (
        read_event_stream,
        windowed_counts,
    )

    src = tmp_path / "stream"
    src.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), src / name)

    hour = 3_600_000_000_000  # ns
    # batch 1: events at t=0h and t=10h → watermark advances to 10h-2h = 8h
    write_batch("b1.parquet", [
        (1, 0 * hour, 1, "click", 1.0, "{}"),
        (2, 10 * hour, 1, "click", 1.0, "{}"),
    ])
    out = windowed_counts(read_event_stream(spark, str(src)), window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: one on-time event (t=10h) and one LATE event back at t=0h
    write_batch("b2.parquet", [
        (3, 10 * hour, 1, "click", 1.0, "{}"),
        (4, 0 * hour, 1, "click", 99.0, "{}"),  # late: window 0h closed at wm 8h
    ])
    q.processAllAvailable()
    # advance watermark past 10h so that window also closes and emits
    write_batch("b3.parquet", [(5, 20 * hour, 1, "click", 1.0, "{}")])
    q.processAllAvailable()
    q.stop()

    rows = {
        r["window_start"]: (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    first_window = min(rows)
    # the late event (value 99) did NOT make it into the closed first window
    assert rows[first_window] == (1, 1.0)
    # the 10h window counted both its on-time events
    assert (2, 2.0) in rows.values()


def test_stateful_restart_recovers_from_checkpoint(spark, tmp_path):
    """ST2/ST3 restart contract: stop the stateful query, start a NEW
    query object on the same checkpoint, feed one more batch — the
    recovered state must carry the earlier batches' counts (3× after
    three identical batches), proving state survives a process restart,
    not just consecutive micro-batches."""
    import os
    import shutil

    from gfe_db_spark.streaming.structured import stateful_user_totals

    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    out = str(tmp_path / "totals_out")

    def start():
        # memory sinks can't recover a checkpoint; a durable foreachBatch
        # parquet append is the restartable-sink shape (ST3)
        events = read_event_stream(spark, src)

        def write_batch(df, epoch_id):
            df.write.mode("append").parquet(out)

        return (
            stateful_user_totals(events)
            .writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{src}/batch1.parquet")
    q1 = start()
    q1.processAllAvailable()
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{src}/batch2.parquet")
    q1.processAllAvailable()
    q1.stop()

    # "restart": a brand-new query object on the same checkpoint
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{src}/batch3.parquet")
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    import pyspark.sql.functions as F

    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    expected = {
        r["user_id"]: 3 * r["n"]
        for r in batch.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    # every update row reflects the running total at its batch; the max per
    # user must be the RECOVERED total (2× from checkpoint state + 1×)
    got = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"))
        .collect()
    }
    assert got == expected


def test_cdc_merge_sink_out_of_order_tombstone(spark, tmp_path):
    """A delete arriving BEFORE an older update (out-of-order batches)
    must win: the older update cannot resurrect the deleted key, and for
    surviving keys the newest version's value sticks regardless of
    arrival order. n_changes accumulates across batches."""
    import datetime as dt

    from pyspark.sql import functions as F

    from gfe_db_spark.plans.txtable import read_table
    from gfe_db_spark.streaming.structured import cdc_current_snapshot, cdc_merge_sink

    state = str(tmp_path / "state")
    sink = cdc_merge_sink(state)
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    cols = ["key", "version_ts", "version_seq", "op", "value"]
    # batch 0 arrives first but carries LATER event-times
    sink(spark.createDataFrame(
        [(1, t(10), 100, "D", 0.0), (2, t(10), 101, "U", 20.0)], cols), 0)
    # batch 1 arrives second with EARLIER event-times
    sink(spark.createDataFrame(
        [(1, t(5), 50, "U", 99.0), (2, t(5), 51, "U", 5.0)], cols), 1)
    snap = {r.key: r for r in cdc_current_snapshot(spark, state).collect()}
    assert 1 not in snap, "tombstone resurrected by an older update"
    assert snap[2].value == 20.0 and snap[2].n_changes == 2
    # raw state still holds the tombstone with full change history
    raw = {r.key: r for r in read_table(spark, state).collect()}
    assert raw[1].op == "D" and raw[1].n_changes == 2


def test_cdc_merge_sink_commits_to_uri_state_path(spark, tmp_path):
    """The CDC state may live at any Hadoop URI, not just a local path:
    with a file:// state path, two out-of-order batches commit, the
    tombstone and the summed n_changes survive, and the state is a
    manifest-pointer table readers resolve through read_table."""
    import datetime as dt

    from gfe_db_spark.plans.txtable import read_table
    from gfe_db_spark.streaming.structured import cdc_current_snapshot, cdc_merge_sink

    state = f"file://{tmp_path}/state"
    sink = cdc_merge_sink(state)
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    cols = ["key", "version_ts", "version_seq", "op", "value"]
    sink(spark.createDataFrame(
        [(1, t(10), 100, "D", 0.0), (2, t(10), 101, "U", 20.0), (3, t(1), 1, "U", 3.0)],
        cols), 0)
    sink(spark.createDataFrame(
        [(1, t(5), 50, "U", 99.0), (2, t(5), 51, "U", 5.0), (2, t(6), 52, "U", 6.0)],
        cols), 1)
    assert os.path.isdir(tmp_path / "state" / "_manifests")
    raw = {r.key: r for r in read_table(spark, state).collect()}
    assert raw[1].op == "D" and raw[1].n_changes == 2
    assert raw[2].value == 20.0 and raw[2].n_changes == 3
    assert raw[3].value == 3.0 and raw[3].n_changes == 1
    snap = {r.key: r.value for r in cdc_current_snapshot(spark, state).collect()}
    assert snap == {2: 20.0, 3: 3.0}


def test_load_invariants_gate():
    from gfe_db_spark.streaming.incremental import load_invariants_ok

    assert load_invariants_ok({}, {"GFE": 5})
    assert load_invariants_ok({"GFE": 5}, {"GFE": 5})
    assert load_invariants_ok({"GFE": 5}, {"GFE": 9, "Sequence": 1})
    assert not load_invariants_ok({"GFE": 5}, {"GFE": 4})
    assert not load_invariants_ok({"GFE": 5, "Sequence": 2}, {"GFE": 9})
