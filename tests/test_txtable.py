"""Reader-isolated manifest-pointer table (plans/txtable.py), the engine's
one commit protocol. These tests pin the isolation guarantee itself (a
reader polling during commits and compactions never observes a partial
table), plus the merge rules, the O(batch) commit shape, crash recovery,
optimistic conflict detection, and vacuum retention.
"""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from gfe_db_spark.plans import txtable as TX
from gfe_db_spark.plans.merge import fs_exists


def _mk(spark, n, val):
    return spark.createDataFrame([(i, val) for i in range(n)], "k long, val long")


def test_tx_roundtrip_and_idempotent_replay(spark, tmp_path):
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 50, 1), root, ["k"], n_buckets=4)
    TX.tx_upsert(_mk(spark, 50, 1), root, ["k"], n_buckets=4)  # replay
    got = TX.tx_read(spark, root)
    assert got.count() == 50
    assert got.select(F.countDistinct("k")).collect()[0][0] == 50
    assert [r.val for r in got.select("val").distinct().collect()] == [1]


def test_tx_update_and_create_only_semantics(spark, tmp_path):
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 10, 1), root, ["k"], n_buckets=4)
    TX.tx_upsert(_mk(spark, 10, 2), root, ["k"], on_match="update", n_buckets=4)
    assert {r.val for r in TX.tx_read(spark, root).collect()} == {2}
    TX.tx_upsert(
        spark.createDataFrame([(5, 9), (100, 9)], "k long, val long"),
        root,
        ["k"],
        on_match="create_only",
        n_buckets=4,
    )
    rows = {r.k: r.val for r in TX.tx_read(spark, root).collect()}
    assert rows[5] == 2 and rows[100] == 9 and len(rows) == 11


def test_tx_merge_fn_applies_on_bootstrap(spark, tmp_path):
    """A custom merge_fn combines duplicate batch keys on the FIRST commit
    too (merged against an empty existing side), not only on later ones —
    the bootstrap must not write the batch raw."""
    root = str(tmp_path / "t")

    def combine(existing, batch):
        return (
            existing.unionByName(batch)
            .groupBy("k", "__bucket")
            .agg(F.sum("val").alias("val"))
        )

    dup = spark.createDataFrame([(1, 10), (1, 5), (2, 1)], "k long, val long")
    TX.tx_upsert(dup, root, ["k"], merge_fn=combine, n_buckets=4)
    assert {r.k: r.val for r in TX.tx_read(spark, root).collect()} == {1: 15, 2: 1}
    more = spark.createDataFrame([(1, 1)], "k long, val long")
    TX.tx_upsert(more, root, ["k"], merge_fn=combine, n_buckets=4)
    assert {r.k: r.val for r in TX.tx_read(spark, root).collect()} == {1: 16, 2: 1}


def test_tx_rejects_bucket_count_change(spark, tmp_path):
    """A commit with a different n_buckets would mis-bucket keys (missed
    matches → duplicate-key appends); the manifest's recorded count makes
    it a hard error, and the table stays committable at its own count."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 100, 1), root, ["k"], n_buckets=8)
    gen = TX.current_manifest_number(spark, root)
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        TX.tx_upsert(_mk(spark, 100, 2), root, ["k"], n_buckets=16)
    assert TX.current_manifest_number(spark, root) == gen  # nothing published
    TX.tx_upsert(_mk(spark, 100, 2), root, ["k"], n_buckets=8)
    got = TX.tx_read(spark, root)
    assert got.count() == 100
    assert {r.val for r in got.collect()} == {2}


def test_tx_commit_is_o_batch(spark, tmp_path):
    """A commit touching one bucket writes ONE new bucket dir; untouched
    buckets keep resolving to their old generation."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 64, 1), root, ["k"], n_buckets=8)
    one = spark.createDataFrame([(3, 7)], "k long, val long")
    touched, gen = TX.tx_upsert(one, root, ["k"], n_buckets=8)
    assert len(touched) == 1 and gen == 2
    m = TX.read_manifest(spark, root)
    gens = set(m["buckets"].values())
    assert {TX._parse_gen(g) for g in gens} == {1, 2}
    (gen2_name,) = [g for g in gens if TX._parse_gen(g) == 2]
    gen2 = f"{root}/{gen2_name}"
    names = [n for n in TX._list_names(spark, gen2) if n.startswith("__bucket=")]
    assert names == [f"__bucket={touched[0]}"]
    rows = {r.k: r.val for r in TX.tx_read(spark, root).collect()}
    assert rows[3] == 7 and len(rows) == 64


def test_tx_bucket_restricted_read_prunes_paths(spark, tmp_path):
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 64, 1), root, ["k"], n_buckets=8)
    sub = TX.tx_read(spark, root, buckets=[3], drop_bucket=False)
    files = sub.inputFiles()
    assert files and all("__bucket=3" in f for f in files)


def test_tx_reader_never_sees_partial_state(spark, tmp_path):
    """THE isolation guarantee: a reader polling while a writer commits
    full-table updates (every bucket touched, every commit) always sees
    one complete snapshot — a single distinct `val` over the full row
    count, never a mix of generations or a missing file."""
    root = str(tmp_path / "t")
    n = 200
    TX.tx_upsert(_mk(spark, n, 0), root, ["k"], n_buckets=8)
    errors: list[Exception] = []
    done = threading.Event()

    def writer():
        try:
            for v in range(1, 6):
                TX.tx_upsert(_mk(spark, n, v), root, ["k"], n_buckets=8)
        except Exception as e:  # surfaced in the main thread
            errors.append(e)
        finally:
            done.set()

    t = threading.Thread(target=writer)
    t.start()
    snapshots = 0
    try:
        while not done.is_set() or snapshots == 0:
            row = (
                TX.tx_read(spark, root)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("val").alias("nv"),
                )
                .collect()[0]
            )
            assert (row.n, row.nv) == (n, 1), "reader observed a torn snapshot"
            snapshots += 1
    finally:
        t.join()
    assert not errors
    assert snapshots >= 1
    final = TX.tx_read(spark, root).select("val").distinct().collect()
    assert [r.val for r in final] == [5]


def test_tx_reader_isolated_during_compaction(spark, tmp_path):
    """Compaction repoints the manifest; a polling reader never sees a
    missing or doubled table."""
    root = str(tmp_path / "t")
    n = 120
    for v in range(3):  # several generations to fold
        TX.tx_upsert(_mk(spark, n, v), root, ["k"], n_buckets=8)
    errors: list[Exception] = []
    done = threading.Event()

    def compactor():
        try:
            TX.tx_compact(spark, root)
        except Exception as e:
            errors.append(e)
        finally:
            done.set()

    t = threading.Thread(target=compactor)
    t.start()
    try:
        while not done.is_set():
            assert TX.tx_read(spark, root).count() == n
    finally:
        t.join()
    assert not errors
    m = TX.read_manifest(spark, root)
    gens = set(m["buckets"].values())
    assert len(gens) == 1 and TX._parse_gen(next(iter(gens))) == 4
    # pre-compaction generations survive until an explicit vacuum
    assert TX.current_manifest_number(spark, root) == 4
    assert TX.tx_read(spark, root).count() == n


def test_tx_recover_cleans_orphan_generation(spark, tmp_path):
    """Crash between the generation write and the manifest rename leaves
    an orphan (unreferenced) gen dir numbered ABOVE the current manifest.
    The generation-number rule: such a dir is in-flight by construction
    and recover never touches it, at ANY age — it becomes collectable
    exactly when a later commit passes its number (at which point its
    writer could only get TxConflict, so deletion is provably safe)."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 20, 1), root, ["k"], n_buckets=4)
    # simulate the crash: write a gen-2 staging dir but never publish
    orphan = f"{root}/{TX._new_gen_name(2)}"
    _mk(spark, 20, 2).withColumn("__bucket", F.lit(0)).write.partitionBy(
        "__bucket"
    ).parquet(orphan)
    assert {r.val for r in TX.tx_read(spark, root).collect()} == {1}
    # numbered above current (2 > 1): indistinguishable from a live
    # writer's staging dir — survives recover even with zero grace
    assert TX.tx_recover(spark, root, grace_seconds=0) == []
    assert fs_exists(spark, orphan)
    # a later commit publishes generation 2: the orphan's number is now
    # taken, its (hypothetical) writer can only TxConflict — collectable.
    # The commit's own recover pass runs BEFORE the publish (current
    # still 1 at that point), so the orphan survives into the commit...
    TX.tx_upsert(_mk(spark, 20, 3), root, ["k"], n_buckets=4)
    assert {r.val for r in TX.tx_read(spark, root).collect()} == {3}
    assert fs_exists(spark, orphan)
    # ...and the NEXT recover (current now 2 ≥ orphan's 2) collects it
    removed = TX.tx_recover(spark, root, grace_seconds=0)
    assert removed == [orphan]
    assert not fs_exists(spark, orphan)
    assert {r.val for r in TX.tx_read(spark, root).collect()} == {3}


def test_tx_recover_never_collects_slow_in_flight_writer(spark, tmp_path):
    """The round-6 verdict's GC edge case, closed: a writer staging
    generation n+1 whose single long task refreshes no directory mtime
    (simulated with grace_seconds=0 — infinitely stale) must SURVIVE a
    concurrent writer's commit-start recover, then publish successfully.
    Under the old mtime-only rule this dir was deleted and the victim's
    later publish succeeded anyway, publishing a manifest referencing
    deleted data."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 30, 0), root, ["k"], n_buckets=4)
    # slow writer: fully staged at gen 2, not yet published, mtime
    # arbitrarily stale (grace 0 treats ANY age as past-grace)
    man, gen_dir, _ = TX._prepare_upsert(_mk(spark, 30, 1), root, ["k"], n_buckets=4)
    assert TX.tx_recover(spark, root, grace_seconds=0) == []
    assert fs_exists(spark, gen_dir), "GC collected a live writer's staging dir"
    # vacuum must honor the same rule
    assert all(
        p != gen_dir
        for p in TX.tx_vacuum(spark, root, keep_manifests=1, grace_seconds=0)
    )
    assert fs_exists(spark, gen_dir)
    # the slow writer finishes: publish succeeds and the data it
    # references is intact
    TX._publish(spark, root, man, gen_dir)
    assert {r.val for r in TX.tx_read(spark, root).collect()} == {1}


def test_tx_two_concurrent_writers(spark, tmp_path):
    """Two writers racing from the same manifest: each stages into its OWN
    uniquely-named generation dir, the winner publishes, the loser's
    staged data SURVIVES the winner's whole commit (including the
    recover pass at commit start) and is deleted only by the loser's own
    TxConflict cleanup — never the winner's data (the round-5 verdict's
    shared-gen-dir clobber hazard)."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 40, 0), root, ["k"], n_buckets=4)
    # writer A stages (data fully written, not yet published)
    man_a, dir_a, _ = TX._prepare_upsert(_mk(spark, 40, 1), root, ["k"], n_buckets=4)
    assert fs_exists(spark, dir_a)
    # writer B runs a COMPLETE commit for the same generation number —
    # its commit-start recover must not collect A's in-flight staging dir
    TX.tx_upsert(_mk(spark, 40, 2), root, ["k"], n_buckets=4)
    assert TX.current_manifest_number(spark, root) == 2
    assert fs_exists(spark, dir_a), "winner's recover deleted loser's in-flight data"
    # loser publishes: clean TxConflict, loser's dir self-collected,
    # winner's published snapshot untouched
    with pytest.raises(TX.TxConflict):
        TX._publish(spark, root, man_a, dir_a)
    assert not fs_exists(spark, dir_a)
    assert {r.val for r in TX.tx_read(spark, root).collect()} == {2}
    m = TX.read_manifest(spark, root)
    assert all(TX._parse_gen(g) in (1, 2) for g in m["buckets"].values())
    # table remains fully usable afterwards
    TX.tx_upsert(_mk(spark, 40, 3), root, ["k"], n_buckets=4)
    assert {r.val for r in TX.tx_read(spark, root).collect()} == {3}


def test_tx_conflict_detection(spark, tmp_path):
    """Two writers racing to the same generation number: the loser gets
    TxConflict, the winner's commit stands untouched."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 10, 1), root, ["k"], n_buckets=4)
    # hand-publish manifest 2 to simulate the winner
    m = TX.read_manifest(spark, root)
    winner = dict(m, generation=2)
    TX._commit_manifest(spark, root, winner)
    with pytest.raises(TX.TxConflict):
        TX._commit_manifest(spark, root, dict(m, generation=2))
    assert TX.current_manifest_number(spark, root) == 2


def test_tx_vacuum_retention(spark, tmp_path):
    """Vacuum keeps every generation any retained manifest references and
    deletes the rest; the current snapshot is untouched."""
    root = str(tmp_path / "t")
    for v in range(4):  # manifests 1..4; each rewrites every bucket
        TX.tx_upsert(_mk(spark, 40, v), root, ["k"], n_buckets=4)
    removed = TX.tx_vacuum(spark, root, keep_manifests=2)
    # manifests 3,4 retained -> gens 3,4 live; gens 1,2 + manifests 1,2 go
    # (gens 1,2 were referenced by the pruned manifests => provably
    # superseded published data, deleted with no grace period needed)
    left = {TX._parse_gen(n) for n in TX._list_names(spark, root) if TX._parse_gen(n)}
    assert left == {3, 4}
    mnames = set(TX._list_names(spark, TX._manifest_dir(root)))
    assert mnames == {"00000003.json", "00000004.json"}
    assert len(removed) == 4
    got = TX.tx_read(spark, root)
    assert got.count() == 40
    assert {r.val for r in got.select("val").distinct().collect()} == {3}


def test_tx_manifest_is_tiny_and_complete(spark, tmp_path):
    """The pointer the whole protocol swings on is a few hundred bytes of
    JSON — bucket → generation, nothing else; no data paths are rewritten
    to move the table forward."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 40, 1), root, ["k"], n_buckets=4)
    raw = TX.fs_read_text(spark, TX._manifest_dir(root) + "/00000001.json")
    m = json.loads(raw)
    assert set(m) == {"generation", "n_buckets", "buckets"}
    assert len(raw) < 1000


def test_tx_model_based_random_op_sequences(spark, tmp_path):
    """Model-based check: a random sequence of upserts (update /
    create_only), replays, compactions, and vacuums must leave the table
    equal to a plain dict evolved under the same rules — the MERGE
    semantics and the manifest protocol cannot drift apart no matter how
    operations interleave. Deterministic op list (derandomize-style) so
    CI is stable; each sequence uses a fresh table."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op_st = st.one_of(
        st.tuples(
            st.just("upsert"),
            st.sampled_from(["update", "create_only"]),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=15),
                    st.integers(min_value=0, max_value=99),
                ),
                min_size=1,
                max_size=8,
            ),
        ),
        st.tuples(st.just("compact"), st.just(None), st.just(None)),
        st.tuples(st.just("vacuum"), st.just(None), st.just(None)),
    )

    @given(ops=st.lists(op_st, min_size=1, max_size=6))
    @settings(
        max_examples=6,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    )
    def run(ops):
        import uuid as _uuid

        root = str(tmp_path / f"t-{_uuid.uuid4().hex[:8]}")
        model: dict[int, int] = {}
        for kind, rule, rows in ops:
            if kind == "upsert":
                batch = spark.createDataFrame(rows, "k long, val long")
                TX.tx_upsert(batch, root, ["k"], on_match=rule, n_buckets=4)
                # model: within-batch dedup keeps ONE row per key
                # (dropDuplicates — engine picks one; use first occurrence,
                # then assert only on keys where the batch is unambiguous)
                seen: dict[int, set] = {}
                for k, v in rows:
                    seen.setdefault(k, set()).add(v)
                for k, vals in seen.items():
                    v = vals.copy().pop() if len(vals) == 1 else None
                    if rule == "create_only" and k in model:
                        continue
                    # ambiguous batch (duplicate key, differing values):
                    # dropDuplicates may install EITHER value, so the key
                    # is excluded from the value assertion UNCONDITIONALLY
                    # — keeping the prior value here would assert the old
                    # value against a legitimately-updated row
                    model[k] = v if v is not None else "AMBIG"
            elif kind == "compact" and TX.current_manifest_number(spark, root):
                TX.tx_compact(spark, root)
            elif kind == "vacuum" and TX.current_manifest_number(spark, root):
                TX.tx_vacuum(spark, root, keep_manifests=1)
        if not TX.current_manifest_number(spark, root):
            return
        got = {r.k: r.val for r in TX.tx_read(spark, root).collect()}
        assert set(got) == set(model)
        for k, v in model.items():
            if v != "AMBIG" and not (isinstance(v, str)):
                assert got[k] == v, (k, v, got[k])

    run()


def test_tx_changes_classifies_insert_update_and_skips_unchanged(spark, tmp_path):
    """The table_changes CDC read: between two generations, inserted keys
    tag `insert` with a NULL old image, rewritten keys whose non-key
    columns actually changed tag `update` with both images, and rows a
    MERGE rewrote to an IDENTICAL value are not changes at all."""
    root = str(tmp_path / "t")
    TX.tx_upsert(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, val long"),
        root, ["k"], n_buckets=4,
    )
    g1 = TX.current_manifest_number(spark, root)
    TX.tx_upsert(
        # k=2 updated, k=3 rewritten unchanged, k=4 inserted
        spark.createDataFrame([(2, 99), (3, 30), (4, 40)], "k long, val long"),
        root, ["k"], on_match="update", n_buckets=4,
    )
    got = {
        r.k: (r.change_type, r.val, r.old_val)
        for r in TX.tx_changes(spark, root, since_generation=g1, keys=["k"]).collect()
    }
    assert got == {2: ("update", 99, 20), 4: ("insert", 40, None)}


def test_tx_changes_prunes_untouched_buckets_at_path_level(spark, tmp_path):
    """The scale contract: a bucket whose generation dir is identical in
    both manifests is never read — the diff's scan set (inputFiles on
    both join legs) touches ONLY the buckets the second commit rewrote.
    At 100 TB that is the difference between a diff that scans the delta
    and one that scans the table."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 64, 1), root, ["k"], n_buckets=8)
    g1 = TX.current_manifest_number(spark, root)
    # one key -> exactly one touched bucket in generation 2
    one = spark.createDataFrame([(7, 2)], "k long, val long")
    TX.tx_upsert(one, root, ["k"], on_match="update", n_buckets=8)
    m1 = TX.read_manifest(spark, root, generation=g1)
    m2 = TX.read_manifest(spark, root)
    changed = {b for b in m2["buckets"] if m1["buckets"].get(b) != m2["buckets"][b]}
    assert len(changed) == 1
    diff = TX.tx_changes(spark, root, since_generation=g1, keys=["k"])
    files = diff.inputFiles()
    assert files, "diff plan lists no input files"
    want = {f"__bucket={int(b)}" for b in changed}
    for f in files:
        assert any(w in f for w in want), f"diff scans untouched bucket: {f}"
    # and the diff itself is exactly the one rewritten key
    assert [(r.k, r.change_type, r.val, r.old_val) for r in diff.collect()] == [
        (7, "update", 2, 1)
    ]


def test_tx_changes_empty_when_nothing_changed(spark, tmp_path):
    """An idempotent replay commits nothing, so the diff across it is
    empty (and typed)."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 16, 1), root, ["k"], n_buckets=4)
    g1 = TX.current_manifest_number(spark, root)
    TX.tx_upsert(_mk(spark, 16, 1), root, ["k"], n_buckets=4)  # replay
    diff = TX.tx_changes(spark, root, since_generation=g1, keys=["k"])
    assert diff.count() == 0
    assert set(diff.columns) == {"k", "change_type", "val", "old_val"}


def test_tx_changes_rejects_schema_mismatch_between_generations(spark, tmp_path):
    """r10 (r9 advice): non_keys is derived from the NEW snapshot, so a
    schema change between the compared generations must fail LOUD with
    the column asymmetry, not with an opaque old-side resolution error
    (column added) or a silently incomplete diff (column removed).

    The manifest layout itself permits per-generation schemas (generation
    dirs are immutable and self-describing), so the mismatch is only
    detectable — and only meaningful — at diff time."""
    root = str(tmp_path / "t")
    TX.tx_upsert(_mk(spark, 8, 1), root, ["k"], n_buckets=4)
    g1 = TX.current_manifest_number(spark, root)
    widened = spark.createDataFrame(
        [(i, 2, "x") for i in range(8)], "k long, val long, extra string"
    )
    # merge_fn ignores the existing image so the mixed-schema merge itself
    # succeeds; only the diff is expected to refuse
    TX.tx_upsert(
        widened, root, ["k"], n_buckets=4, merge_fn=lambda ex, b: b
    )
    with pytest.raises(ValueError, match="schema mismatch.*only in new.*extra"):
        TX.tx_changes(spark, root, since_generation=g1, keys=["k"]).collect()
