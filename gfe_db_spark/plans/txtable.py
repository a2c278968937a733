"""Reader-isolated commits over plain parquet: a manifest-pointer table —
the engine's one commit protocol for the graph, the accession registry and
the `txtable_*` entries.

The reference's store is transactional (Neo4j: ``load.cyp:9`` batches
inside ``apoc.periodic.iterate`` transactions), so a reader never sees a
half-loaded release. Rewriting live parquet directories in place cannot
give that: a concurrent reader would observe a half-swapped partition mix.
This module gets the same guarantee on plain parquet with the trick every
log-structured table format uses (Delta's ``_delta_log/N.json``, Iceberg's
snapshot pointer):

Layout::

    <root>/_manifests/00000001.json           immutable, atomically renamed in
    <root>/gen-00000001-3f2a9c1d/__bucket=i/  immutable once a manifest refers to it

A manifest is a tiny JSON document ``{"generation": N, "n_buckets": B,
"buckets": {"0": "gen-00000007-ab12cd34", ...}}`` mapping every bucket of
the hash-bucketed table (same ``pmod(xxhash64(keys), B)`` bucketing as
`plans/merge.py`) to the generation directory that owns its current data.
The CURRENT table state is the highest-numbered manifest.

Commit protocol (`tx_upsert`, `tx_compact`):

1. resolve the current manifest M_n (one file-listing, no data read);
2. write the commit's output partitions into a FRESH, UNIQUELY-NAMED
   directory ``gen-{n+1}-{uuid}`` — the uuid suffix means two writers
   racing from the same M_n never touch each other's data files; only the
   touched buckets are written, untouched buckets keep pointing at their
   old generation, so a commit stays O(batch);
3. write the new manifest to a temp name, then RENAME it to
   ``_manifests/{n+1}.json``. Rename-to-a-fresh-name is atomic on HDFS
   and HDFS-like filesystems (rename fails if the destination exists), so
   a reader listing the manifest dir sees either n or n+1, never a torn
   state, and exactly one racing writer can publish {n+1}. The loser
   raises `TxConflict` (optimistic concurrency, Delta-style) and deletes
   ITS OWN generation dir on the way out — the winner's published data is
   never touched.

   Caveat (documented, not hidden): on a raw local filesystem POSIX
   ``rename(2)`` overwrites an existing destination, so the exists-check
   before the rename is best-effort rather than atomic there. True
   multi-writer optimistic concurrency therefore requires an HDFS-like
   filesystem (HDFS, most object-store committers); on local FS the
   engine's ST6 single-writer discipline (streaming/incremental.py) is
   the operative guarantee and conflict detection is best-effort.

Readers (`tx_read`) resolve buckets → generation dirs through one
manifest read, then scan only immutable directories: a snapshot. Commits
and compactions running concurrently never mutate those files; old
generations disappear only via `tx_vacuum`/`tx_recover`, which GC ONLY
directories no manifest references AND whose parsed generation number is
at or below the current manifest generation. That number rule is what
makes GC safe with concurrent writers, deterministically rather than by
timing: an unreferenced dir numbered ABOVE the current manifest is an
in-flight writer's staging area by construction (nothing else creates
numbers the manifest hasn't reached) and is never touched; an
unreferenced dir numbered AT or BELOW current belongs to a commit whose
generation number some other writer already published, so its own
`_publish` must fail with `TxConflict` — deleting its data can never be
observed through a manifest. A crashed commit's orphan dir therefore
becomes collectable exactly when a later commit passes its number
(nothing leaks: the table keeps moving, or an operator runs one commit).
The `grace_seconds` age check is kept as defense-in-depth below/at the
current generation (clock skew, legacy dirs), not as the safety argument.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfe_db_spark.plans.merge import (
    DEFAULT_BUCKETS,
    bucket_expr,
    merge_clustered,
    fs_delete,
    fs_read_text,
    fs_write_text,
    hadoop_fs,
)

_MANIFEST_DIR = "_manifests"
_GEN_PREFIX = "gen-"

#: default GC grace for unreferenced generation dirs numbered AT or BELOW
#: the current manifest generation (seconds). The generation-number rule
#: (module docstring) is the correctness argument — such a dir's writer
#: can no longer publish, so deleting it is always safe; the grace period
#: is belt-and-braces for clock skew and legacy layouts. Dirs numbered
#: ABOVE the current generation are in-flight by construction and are
#: never deleted regardless of age — so unlike an mtime heuristic, a
#: single long-running task writing one multi-GB file cannot be
#: misjudged as dead.
DEFAULT_GRACE_SECONDS = 900.0


class TxConflict(RuntimeError):
    """Another writer committed the same generation number first."""


def _manifest_dir(root: str) -> str:
    return root.rstrip("/") + "/" + _MANIFEST_DIR


def _new_gen_name(n: int) -> str:
    """Uniquely-named generation dir for commit attempt `n`: the number
    prefix keeps listings ordered/debuggable, the uuid suffix guarantees
    two writers racing from the same manifest never share a directory."""
    return f"{_GEN_PREFIX}{n:08d}-{uuid.uuid4().hex[:8]}"


def _parse_gen(name: str) -> int | None:
    """Generation number from a dir name; accepts both the current
    ``gen-00000002-ab12cd34`` form and the legacy ``gen-00000002`` form."""
    if not name.startswith(_GEN_PREFIX):
        return None
    digits = name[len(_GEN_PREFIX):].split("-", 1)[0]
    return int(digits) if digits.isdigit() else None


def _list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names of a directory via the Hadoop FS API ([] if missing)."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [s.getPath().getName() for s in fs.listStatus(hpath)]


def _fs_mtime_deep(spark: SparkSession, path: str, depth: int = 2) -> float | None:
    """Freshest modification time under `path` (epoch seconds), scanning
    `depth` levels down. Two properties the GC needs:

    - A directory's own mtime only refreshes when a DIRECT child changes;
      during a long parquet write activity happens under `_temporary/…`,
      so a dir-only mtime can look stale while a writer is mid-flight.
      New task-attempt dirs appear under ``_temporary/<jobid>/`` as tasks
      launch, so a depth-2 scan sees fresh activity and the grace check
      correctly treats the dir as alive.
    - Returns None if the path vanishes mid-check (another writer's
      self-cleanup after TxConflict) — callers skip deletion; the old
      raise aborted an innocent commit on this TOCTOU race.
    """
    fs, hpath = hadoop_fs(spark, path)
    try:
        best = fs.getFileStatus(hpath).getModificationTime()
        frontier = [hpath]
        for _ in range(depth):
            nxt = []
            for p in frontier:
                for s in fs.listStatus(p):
                    best = max(best, s.getModificationTime())
                    if s.isDirectory():
                        nxt.append(s.getPath())
            frontier = nxt
        return best / 1000.0
    except Exception:  # FileNotFound etc.: path is being removed — skip
        return None


def numbered_jsons(spark: SparkSession, mdir: str) -> list[int]:
    """Numbers of the ``{n:08d}.json`` documents under `mdir`, ascending
    (one directory listing; temp names are skipped)."""
    return sorted(
        int(name[:-5])
        for name in _list_names(spark, mdir)
        if name.endswith(".json") and name[:-5].isdigit()
    )


def current_manifest_number(spark: SparkSession, root: str) -> int | None:
    """Highest committed manifest number, or None for a missing table.
    One directory listing — no data files are touched."""
    nums = numbered_jsons(spark, _manifest_dir(root))
    return nums[-1] if nums else None


def read_manifest(
    spark: SparkSession, root: str, generation: int | None = None
) -> dict | None:
    """The table's manifest — latest, or pinned to `generation` (a reader
    holding a graph-level snapshot resolves every table at its pinned
    generation; see plans/load.upsert_graph)."""
    n = current_manifest_number(spark, root) if generation is None else generation
    if n is None:
        return None
    m = json.loads(fs_read_text(spark, f"{_manifest_dir(root)}/{n:08d}.json"))
    assert m["generation"] == n
    return m


def latest_numbered_json(spark: SparkSession, mdir: str) -> tuple[int | None, dict | None]:
    """Highest ``{n:08d}.json`` document under `mdir` (generic form of the
    manifest-pointer resolve, reused by the graph-level manifest)."""
    nums = numbered_jsons(spark, mdir)
    if not nums:
        return None, None
    return nums[-1], json.loads(fs_read_text(spark, f"{mdir}/{nums[-1]:08d}.json"))


def publish_numbered_json(spark: SparkSession, mdir: str, n: int, doc: dict) -> None:
    """Atomically publish `doc` as ``{mdir}/{n:08d}.json`` (temp write +
    rename-to-fresh-name, same protocol and TxConflict semantics as the
    table manifest commit)."""
    final = f"{mdir}/{n:08d}.json"
    tmp = f"{mdir}/.tmp-{uuid.uuid4().hex}.json"
    fs_write_text(spark, tmp, json.dumps(doc, sort_keys=True))
    fs, _ = hadoop_fs(spark, mdir)
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    if fs.exists(HPath(final)) or not fs.rename(HPath(tmp), HPath(final)):
        fs.delete(HPath(tmp), False)
        raise TxConflict(f"manifest {n} under {mdir} already committed")


def _gen_names_of(m: dict) -> set[str]:
    """Generation-dir names a manifest references — bucket-map form
    (`tx_upsert` tables) or segment-list form (`txlog_append` logs)."""
    return set(m.get("buckets", {}).values()) | set(m.get("segments", []))


def _referenced_gen_names(spark: SparkSession, root: str) -> set[str]:
    """Union of generation-dir names referenced by ANY existing manifest.
    Cost is one small JSON read per EXISTING manifest — `tx_vacuum`'s
    manifest pruning is what bounds it (retention window + commits since
    the last vacuum), so a long-running tx table should vacuum on the
    same cadence it compacts."""
    live: set[str] = set()
    mdir = _manifest_dir(root)
    for n in numbered_jsons(spark, mdir):
        live.update(_gen_names_of(json.loads(fs_read_text(spark, f"{mdir}/{n:08d}.json"))))
    return live


def _commit_manifest(spark: SparkSession, root: str, manifest: dict) -> None:
    """Atomically publish `manifest` as generation `manifest['generation']`:
    write to a temp name, rename to the final numbered name. On an
    HDFS-like filesystem rename fails if the destination exists, so
    exactly one racing writer publishes a given number; on raw local FS
    the preceding exists-check is best-effort (see module docstring)."""
    publish_numbered_json(
        spark, _manifest_dir(root), manifest["generation"], manifest
    )


def tx_read(
    spark: SparkSession,
    root: str,
    buckets: list[int] | None = None,
    drop_bucket: bool = True,
    generation: int | None = None,
) -> DataFrame:
    """Snapshot read: resolve bucket → generation through the CURRENT
    manifest (or the pinned `generation`'s) once, then scan only immutable
    generation dirs. Restricting `buckets` prunes at path level —
    unrequested buckets are never listed, let alone read (the txtable form
    of partition pruning).

    The plan is a union of one parquet scan per distinct generation (each
    with its own basePath so ``__bucket`` survives as a partition column).
    The leg count is bounded by min(n_buckets, generations since the last
    compaction) — `tx_compact` folds it back to 1."""
    m = read_manifest(spark, root, generation=generation)
    if m is None:
        raise FileNotFoundError(f"no committed manifest under {root}")
    by_gen: dict[str, list[int]] = {}
    for b_str, gen in m["buckets"].items():
        b = int(b_str)
        if buckets is not None and b not in set(buckets):
            continue
        by_gen.setdefault(gen, []).append(b)
    dfs = []
    for gen in sorted(by_gen):
        base = f"{root.rstrip('/')}/{gen}"
        paths = [f"{base}/__bucket={b}" for b in sorted(by_gen[gen])]
        dfs.append(spark.read.option("basePath", base).parquet(*paths))
    if not dfs:
        if buckets is None or not m["buckets"]:
            raise FileNotFoundError(f"manifest for {root} references no data")
        # bucket-restricted read that pruned everything: empty, typed
        out = spark.createDataFrame([], _snapshot_schema(spark, root, m))
    else:
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
    return out.drop("__bucket") if drop_bucket else out


def tx_changes(
    spark: SparkSession,
    root: str,
    since_generation: int,
    keys: list[str],
    generation: int | None = None,
) -> DataFrame:
    """CDC read between two committed snapshots — the `table_changes`
    surface of the manifest-pointer layout: every key inserted, updated,
    or deleted between `since_generation` and `generation` (default: the
    current manifest), tagged `change_type` with the new row image in the
    table's own columns and the old image as `old_<col>`.

    Scale: each manifest maps bucket → the generation dir that owns it; a
    bucket whose dir is IDENTICAL in both manifests cannot contain a
    change (generation dirs are immutable), so both snapshot reads are
    restricted to the changed buckets at PATH level — untouched buckets
    are never listed, let alone scanned, and the diff's full-outer join is
    co-keyed on the table's MERGE keys, so its shuffle is bounded by the
    touched buckets, not the table. On a MERGE-only table `delete` never
    fires; it is emitted for completeness (a future delete commit shows up
    with no new image)."""
    from functools import reduce

    m_old = read_manifest(spark, root, generation=since_generation)
    m_new = read_manifest(spark, root, generation=generation)
    if m_old is None or m_new is None:
        raise FileNotFoundError(f"missing manifest under {root}")
    changed = sorted(
        int(b)
        for b in set(m_old["buckets"]) | set(m_new["buckets"])
        if m_old["buckets"].get(b) != m_new["buckets"].get(b)
    )
    old = tx_read(spark, root, buckets=changed, generation=m_old["generation"])
    new = tx_read(spark, root, buckets=changed, generation=m_new["generation"])
    # column sets must agree between the two generations: non_keys comes
    # from the NEW snapshot, so a schema-evolved table would otherwise hit
    # an opaque resolution error on the old-side select (column added) or
    # silently drop old-only columns from the diff (column removed). Fail
    # loud with the actual asymmetry instead (r9 advice).
    if set(old.columns) != set(new.columns):
        only_old = sorted(set(old.columns) - set(new.columns))
        only_new = sorted(set(new.columns) - set(old.columns))
        raise ValueError(
            f"tx_changes: schema mismatch between generation "
            f"{m_old['generation']} and {m_new['generation']} of {root}: "
            f"only in old={only_old}, only in new={only_new}; diff across "
            f"a schema change is not defined — migrate or align columns "
            f"first"
        )
    non_keys = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, *[F.col(c).alias(f"old_{c}") for c in non_keys]
    ).withColumn("__in_old", F.lit(True))
    n = new.select(*keys, *non_keys).withColumn("__in_new", F.lit(True))
    j = n.join(o, keys, "full_outer")
    unchanged = reduce(
        lambda x, y: x & y,
        [F.col(c).eqNullSafe(F.col(f"old_{c}")) for c in non_keys],
        F.lit(True),
    )
    change_type = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(~unchanged, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type", *non_keys, *[f"old_{c}" for c in non_keys])
    )


def _snapshot_schema(spark: SparkSession, root: str, m: dict):
    """Schema for an empty bucket-restricted read: sample any one
    referenced bucket path."""
    b_str, gen = next(iter(sorted(m["buckets"].items())))
    base = f"{root.rstrip('/')}/{gen}"
    return spark.read.option("basePath", base).parquet(f"{base}/__bucket={int(b_str)}").schema


def _prepare_upsert(
    batch: DataFrame,
    root: str,
    keys: list[str],
    on_match: str = "update",
    n_buckets: int = DEFAULT_BUCKETS,
    merge_fn=None,
) -> tuple[dict, str, list[int]]:
    """Stage a MERGE commit WITHOUT publishing it: write the merged
    touched buckets into a fresh uniquely-named generation dir and return
    ``(manifest, gen_dir_path, touched_buckets)``. Nothing another writer
    or reader does can observe or disturb the staged data — publication
    is the separate `_publish` step. Split out so tests can interleave
    two genuinely concurrent writers around the publish point."""
    spark = batch.sparkSession
    batch = batch.withColumn("__bucket", bucket_expr(keys, n_buckets)).persist()
    try:
        m = read_manifest(spark, root)
        if m is not None and m["n_buckets"] != n_buckets:
            raise ValueError(
                f"bucket-count mismatch for {root}: table has "
                f"n_buckets={m['n_buckets']}, commit requested {n_buckets}"
            )
        touched = sorted(r[0] for r in batch.select("__bucket").distinct().collect())
        next_n = 1 if m is None else m["generation"] + 1
        if m is None:
            existing = batch.filter(F.lit(False))
            new_buckets: dict[str, str] = {}
        else:
            existing = tx_read(spark, root, buckets=touched, drop_bucket=False)
            new_buckets = dict(m["buckets"])
        # merge + dedup + write-clustering in ONE pinned hash(__bucket)
        # exchange (merge_clustered docstring); the legacy chain was a
        # batch-dedup exchange + an anti join + a repartition before the
        # write
        merged = merge_clustered(existing, batch, keys, on_match, merge_fn)
        gen_name = _new_gen_name(next_n)
        gen_dir = f"{root.rstrip('/')}/{gen_name}"
        # each partition dir gets ~1 file per commit: the merge output is
        # already hash(__bucket)-clustered, so no writer repartition
        merged.write.partitionBy("__bucket").mode("overwrite").parquet(gen_dir)
        for b in touched:
            new_buckets[str(b)] = gen_name
        manifest = {
            "generation": next_n,
            "n_buckets": n_buckets,
            "buckets": new_buckets,
        }
        return manifest, gen_dir, touched
    finally:
        batch.unpersist()


def _publish(spark: SparkSession, root: str, manifest: dict, gen_dir: str) -> None:
    """Publish a staged commit. On `TxConflict` the loser deletes ITS OWN
    uniquely-named generation dir (never the winner's) and re-raises."""
    try:
        _commit_manifest(spark, root, manifest)
    except TxConflict:
        fs_delete(spark, gen_dir)
        raise


def tx_upsert(
    batch: DataFrame,
    root: str,
    keys: list[str],
    on_match: str = "update",
    n_buckets: int = DEFAULT_BUCKETS,
    merge_fn=None,
    grace_seconds: float = DEFAULT_GRACE_SECONDS,
) -> tuple[list[int], int]:
    """MERGE `batch` into the manifest-pointer table at `root`; returns the
    touched bucket list and the generation it published. Cost is O(batch +
    touched buckets): only the buckets the batch hashes to are read, merged
    (`plans/merge` rules) and written. The commit is a fresh uniquely-named generation dir + an
    atomic manifest rename, so concurrent readers always see a complete
    before- or after-state, and a conflicting writer cleans up only its
    own staging dir. A commit with a different `n_buckets` than the table
    was created with raises ValueError (it would mis-bucket keys).
    `grace_seconds` tunes the commit-start GC's defense-in-depth age
    check (see `tx_recover` — correctness does not depend on it)."""
    spark = batch.sparkSession
    tx_recover(spark, root, grace_seconds=grace_seconds)
    manifest, gen_dir, touched = _prepare_upsert(
        batch, root, keys, on_match=on_match, n_buckets=n_buckets, merge_fn=merge_fn
    )
    _publish(spark, root, manifest, gen_dir)
    return touched, manifest["generation"]


def tx_compact(
    spark: SparkSession, root: str, grace_seconds: float = DEFAULT_GRACE_SECONDS
) -> int:
    """Fold every bucket into one fresh generation (the OPTIMIZE /
    small-file compaction for manifest tables) and atomically repoint the
    manifest. There is no window where the table is missing or mixed:
    readers resolve through the manifest, and the old generations stay on
    disk untouched until `tx_vacuum`. Returns the new generation number."""
    tx_recover(spark, root, grace_seconds=grace_seconds)
    m = read_manifest(spark, root)
    if m is None:
        raise FileNotFoundError(f"no committed manifest under {root}")
    next_n = m["generation"] + 1
    full = tx_read(spark, root, drop_bucket=False)
    gen_name = _new_gen_name(next_n)
    gen_dir = f"{root.rstrip('/')}/{gen_name}"
    full.repartition(F.col("__bucket")).write.partitionBy("__bucket").mode(
        "overwrite"
    ).parquet(gen_dir)
    buckets = {b: gen_name for b in m["buckets"]}
    _publish(
        spark,
        root,
        {"generation": next_n, "n_buckets": m["n_buckets"], "buckets": buckets},
        gen_dir,
    )
    return next_n


def tx_recover(
    spark: SparkSession, root: str, grace_seconds: float = DEFAULT_GRACE_SECONDS
) -> list[str]:
    """Garbage-collect dead commits: delete generation dirs that NO
    manifest references, are numbered AT or BELOW the current manifest
    generation, and are older than `grace_seconds`; plus stray temp
    manifests past the same age. Safe to run at every commit start, even
    with concurrent writers, and the safety is deterministic, not a
    timing heuristic:

    - a dir numbered ABOVE the current generation is an in-flight
      writer's staging area by construction — never deleted, no matter
      how stale its mtime looks (a single long task writing one large
      file refreshes nothing at shallow depths; the old mtime-only rule
      could misjudge it);
    - a dir numbered at/below current is unreferenced only because some
      OTHER writer already published that generation number, so its
      writer's `_publish` must raise `TxConflict` — the deleted data can
      never become reachable through a manifest. The grace period on top
      is defense-in-depth, not the argument.

    A crashed commit's orphan dir is collected as soon as any later
    commit passes its number. Returns the deleted paths."""
    now = time.time()
    cur = current_manifest_number(spark, root) or 0
    referenced = _referenced_gen_names(spark, root)
    removed: list[str] = []
    for name in _list_names(spark, root):
        g = _parse_gen(name)
        if g is None or name in referenced or g > cur:
            continue
        path = f"{root.rstrip('/')}/{name}"
        mt = _fs_mtime_deep(spark, path)
        if mt is not None and now - mt >= grace_seconds:
            fs_delete(spark, path)
            removed.append(path)
    mdir = _manifest_dir(root)
    for name in _list_names(spark, mdir):
        if name.startswith(".tmp-"):
            path = f"{mdir}/{name}"
            mt = _fs_mtime_deep(spark, path, depth=0)
            if mt is not None and now - mt >= grace_seconds:
                fs_delete(spark, path)
                removed.append(path)
    return removed


def tx_vacuum(
    spark: SparkSession,
    root: str,
    keep_manifests: int = 2,
    grace_seconds: float = DEFAULT_GRACE_SECONDS,
    pin_generations=None,
) -> list[str]:
    """Delete generation dirs no retained manifest references and
    manifests older than the last `keep_manifests`. The retained window
    is the reader grace period: a reader that resolved any of the last
    `keep_manifests` snapshots still finds every file it resolved.

    `pin_generations` — extra manifest NUMBERS that must stay retained
    regardless of the window. A table that is a member of a graph-level
    manifest (plans/load.upsert_graph) is pinned to a fixed
    generation per graph snapshot; vacuuming a member table directly with
    no pins can prune the very manifest the graph manifest still
    references (e.g. after two compactions), breaking `GraphTables.load`
    until the next load republishes. Use `plans/load.vacuum_graph`, which
    computes the pins, for graph member tables.

    Three classes of dead dirs, three rules:
    - referenced only by manifests being pruned → provably superseded
      published data: deleted immediately;
    - referenced by NO manifest and numbered ABOVE the current manifest
      generation → an in-flight writer's staging dir by construction:
      never deleted (same rule as `tx_recover`);
    - referenced by NO manifest and numbered at/below current → its
      writer can only get `TxConflict`: deleted past `grace_seconds`.
    Returns the deleted paths."""
    cur = current_manifest_number(spark, root)
    if cur is None:
        return []
    keep_from = cur - max(keep_manifests - 1, 0)
    pins = set(pin_generations or ())
    live: set[str] = set()
    superseded: set[str] = set()
    mdir = _manifest_dir(root)
    nums = numbered_jsons(spark, mdir)
    for n in nums:
        m = json.loads(fs_read_text(spark, f"{mdir}/{n:08d}.json"))
        (live if n >= keep_from or n in pins else superseded).update(_gen_names_of(m))
    superseded -= live
    now = time.time()
    removed: list[str] = []
    for name in _list_names(spark, root):
        g = _parse_gen(name)
        if g is None or name in live:
            continue
        path = f"{root.rstrip('/')}/{name}"
        if name in superseded:
            fs_delete(spark, path)
            removed.append(path)
            continue
        if g > cur:  # in-flight writer's staging dir: never touched
            continue
        mt = _fs_mtime_deep(spark, path)
        if mt is not None and now - mt >= grace_seconds:
            fs_delete(spark, path)
            removed.append(path)
    for n in nums:
        if n < keep_from and n not in pins:
            path = f"{mdir}/{n:08d}.json"
            fs_delete(spark, path)
            removed.append(path)
    return removed


# --- append-only segment log -------------------------------------------
# The second manifest-pointer shape: a LOG of immutable segments instead
# of a bucket map. `tx_upsert` is a MERGE — it re-reads and rewrites every
# touched bucket, so a table whose commits are pure appends (the accession
# registry: new vocabulary only, never updates) would pay O(table) per
# commit under it. The log form keeps the append O(batch): a commit writes
# ONE fresh segment dir and publishes a manifest listing the previous
# segments plus the new one. Readers union the listed segments — a
# snapshot, same isolation argument as the bucket form. Compaction folds
# all segments into one; `tx_recover`/`tx_vacuum` work unchanged on both
# forms (`_gen_names_of` understands both manifest shapes), including the
# generation-number GC rule.


def txlog_read(spark: SparkSession, root: str) -> DataFrame | None:
    """Snapshot read of a segment log: one manifest read, then a single
    multi-path parquet scan over immutable segment dirs (None for a
    missing/empty log)."""
    m = read_manifest(spark, root)
    if m is None or not m["segments"]:
        return None
    return spark.read.parquet(*[f"{root.rstrip('/')}/{s}" for s in m["segments"]])


def txlog_append(
    df: DataFrame,
    root: str,
    n_files: int = 1,
    grace_seconds: float = DEFAULT_GRACE_SECONDS,
) -> int:
    """Append `df` as one fresh immutable segment and atomically publish a
    manifest referencing previous segments + the new one. O(batch): no
    existing data is read or rewritten. Returns the new generation.
    Concurrency contract = `tx_upsert`'s: optimistic publish, loser
    self-cleans its own segment and raises `TxConflict`."""
    spark = df.sparkSession
    tx_recover(spark, root, grace_seconds=grace_seconds)
    m = read_manifest(spark, root)
    next_n = 1 if m is None else m["generation"] + 1
    gen_name = _new_gen_name(next_n)
    gen_dir = f"{root.rstrip('/')}/{gen_name}"
    df.repartition(n_files).write.mode("overwrite").parquet(gen_dir)
    segments = ([] if m is None else list(m["segments"])) + [gen_name]
    _publish(spark, root, {"generation": next_n, "segments": segments}, gen_dir)
    return next_n


def txlog_compact(
    spark: SparkSession,
    root: str,
    n_files: int = 4,
    grace_seconds: float = DEFAULT_GRACE_SECONDS,
) -> int:
    """Fold every segment into one (reader-isolated: the manifest repoints
    atomically; old segments stay until vacuum). Returns the new
    generation."""
    m = read_manifest(spark, root)
    if m is None:
        raise FileNotFoundError(f"no committed manifest under {root}")
    full = txlog_read(spark, root)
    next_n = m["generation"] + 1
    gen_name = _new_gen_name(next_n)
    gen_dir = f"{root.rstrip('/')}/{gen_name}"
    full.repartition(n_files).write.mode("overwrite").parquet(gen_dir)
    _publish(spark, root, {"generation": next_n, "segments": [gen_name]}, gen_dir)
    return next_n


def txlog_segment_count(spark: SparkSession, root: str) -> int:
    """Number of live segments (0 for a missing log) — the compaction
    trigger for log owners."""
    m = read_manifest(spark, root)
    return 0 if m is None else len(m["segments"])


def read_table(spark: SparkSession, root: str) -> DataFrame:
    """Snapshot read of either manifest-pointer shape: a segment log
    resolves through `txlog_read`, a bucket-map table through `tx_read`.
    The one call sinks' consumers need — a plain
    ``spark.read.parquet(root)`` on a tx table would union EVERY retained
    generation."""
    m = read_manifest(spark, root)
    if m is None:
        raise FileNotFoundError(f"no committed manifest under {root}")
    if "segments" in m:
        out = txlog_read(spark, root)
        if out is None:
            raise FileNotFoundError(f"empty segment log at {root}")
        return out
    return tx_read(spark, root)
