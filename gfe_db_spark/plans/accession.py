"""W6: the accession registry — stable dictionary-encoding of feature
sequences.

The GFE paper's core invariant (`docs/source/reference.rst:79-84`): every
distinct feature sequence within a `(locus, term, rank)` context gets a
small integer accession that is a *permanent reversible 1-to-1 mapping*.
The reference outsources this to a REST feature service per allele
(ref app.py:531-536) — a per-row network call. The engine internalizes it
as a persistent registry table plus a deterministic assignment step, the
single biggest build-time performance win over the reference.

Assignment must be:
  - stable across runs (registry is persistent, append-only);
  - deterministic within a batch (new sequences ordered by
    (first_release, sequence) before numbering — parallel runs converge);
  - serialized per commit (ST6: one writer; the driver-side orchestrator
    guarantees commit order across releases).

Durability: the registry commits through the manifest-pointer SEGMENT LOG
(`plans/txtable.txlog_append`) — each commit writes one immutable segment
dir and atomically publishes a manifest, so a reader polling DURING an
append or a compaction always resolves one complete snapshot.

Scale: the registry is keyed by (locus, term, rank, sequence); joins hash
on those keys. At 100 TB the new-sequence side is small relative to the
corpus (vocabulary growth is sublinear), and max-accession-per-context is
a tiny aggregate; the expensive join (features ⨝ registry) is a plain
equi-join Catalyst can shuffle-hash on the composite key. Long histories
stay O(compact_files): segments fold via `txlog_compact` once `max_files`
accumulate, and the post-compaction vacuum bounds manifest count too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gfe_db_spark.schemas import ACCESSION_REGISTRY

_KEY = ["locus", "term", "rank"]
_IDENT = [*_KEY, "sequence"]


class AccessionRegistry:
    """Persistent (parquet-backed) accession registry with deterministic
    first-seen numbering.

    Each commit appends one immutable segment through the manifest-pointer
    log (reader-isolated; see module docstring). After `max_files`
    segments the log is folded into `compact_files` parts by
    `txlog_compact` and old manifests/segments are vacuumed, so a long
    release history keeps O(compact_files) data files and a bounded
    manifest count — not O(commits) of either."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        max_files: int = 16,
        compact_files: int = 4,
    ):
        self.spark = spark
        self.path = path
        self.max_files = max_files
        self.compact_files = compact_files

    # --- public API -------------------------------------------------------

    def load(self) -> DataFrame:
        """Current registry frame. Sets ``self._loaded_empty``: True iff
        the storage layer STATICALLY knows there is no registry yet (no
        manifest) — i.e. the returned frame is a zero-row local relation,
        not a scan that might be empty.

        A path holding parquet parts but no ``_manifests`` is refused: read
        as an empty log, its accessions would be renumbered from 1, breaking
        the permanent 1-to-1 mapping."""
        from gfe_db_spark.plans.txtable import _list_names, txlog_read

        df = txlog_read(self.spark, self.path)
        if df is not None:
            self._loaded_empty = False
            return df
        names = _list_names(self.spark, self.path)
        if "_manifests" not in names and any(n.endswith(".parquet") for n in names):
            raise ValueError(
                f"registry at {self.path} holds parquet parts but no _manifests; "
                "refusing to renumber its accessions from 1"
            )
        self._loaded_empty = True
        return self.spark.createDataFrame([], schema=ACCESSION_REGISTRY)

    def assign(self, features: DataFrame, release: str) -> DataFrame:
        """Return `features` with an `accession` column; new sequences get
        the next integers per (locus, term, rank) and are persisted.

        `features` must have columns locus, term, rank (int), sequence.
        """
        registry = self.load()

        # Deterministic numbering: order new (= not yet registered)
        # sequences lexicographically within their context, offset by the
        # current max accession. Bootstrap (no registry yet — statically
        # known from load()): every distinct feature is new, so skip the
        # anti-join and max-accession join instead of planning sort-merge
        # joins against a zero-row relation — the `numbered` plan below is
        # materialized through persist(), whose cache-fill runs the
        # INITIAL (non-AQE-reoptimized) plan, i.e. two full exchange+sort
        # legs of overhead per commit that AQE would have elided at
        # runtime (r13 stage audit: the fixture-build entries paid 2 of
        # their 3 heavy stages exactly here; guide §2.4).
        w = W.partitionBy(*_KEY).orderBy("sequence")
        if self._loaded_empty:
            # One exchange, not two: hash-partitioning on the coarser
            # _KEY satisfies BOTH the distinct's clustering requirement
            # (equal _IDENT rows are equal on _KEY, so they co-locate)
            # and the window's exact partitioning, so the distinct
            # aggregate and row_number share the same shuffle.
            numbered = (
                features.select(*_IDENT)
                .repartition(*_KEY)
                .distinct()
                .withColumn("row_rank", F.row_number().over(w))
                .withColumn("max_acc", F.lit(None).cast("int"))
            )
        else:
            distinct_feats = features.select(*_IDENT).distinct()
            new_feats = distinct_feats.join(registry, on=_IDENT, how="left_anti")
            # max_acc is one row per (locus, term, rank) — a bounded
            # domain (loci × feature terms × ranks), orders of magnitude
            # below the registry itself at any corpus scale — so
            # broadcast it instead of letting the cached initial plan
            # pick a sort-merge join.
            max_acc = registry.groupBy(*_KEY).agg(F.max("accession").alias("max_acc"))
            numbered = new_feats.withColumn("row_rank", F.row_number().over(w)).join(
                F.broadcast(max_acc), on=_KEY, how="left"
            )
        numbered = (
            numbered.withColumn(
                "accession",
                (F.coalesce(F.col("max_acc"), F.lit(0)) + F.col("row_rank")).cast("int"),
            )
            .withColumn("first_release", F.lit(release))
            .select(*_IDENT, "accession", "first_release")
        )

        # Append-only commit (serialized by the caller, ST6). New-vocabulary
        # batches are small (sublinear in corpus size), so one part file per
        # commit: a commit adds O(1) files and compaction only triggers
        # after ~max_files commits. A batch with NO new sequences (a replayed
        # release, ST3) commits nothing at all — the replay is a true no-op
        # instead of an empty segment + manifest bump.
        numbered = numbered.persist()
        try:
            if numbered.head(1):
                from gfe_db_spark.plans.txtable import txlog_append

                txlog_append(numbered, self.path, n_files=1)
        finally:
            numbered.unpersist()
        self._compact_if_needed()

        # No broadcast hint: the registry grows with the corpus vocabulary;
        # let Catalyst/AQE pick broadcast vs shuffle-hash by actual size.
        registry = self.load()
        return features.join(registry.select(*_IDENT, "accession"), on=_IDENT, how="left")

    # --- compaction -------------------------------------------------------

    def _compact_if_needed(self) -> None:
        from gfe_db_spark.plans.txtable import (
            tx_vacuum,
            txlog_compact,
            txlog_segment_count,
        )

        if txlog_segment_count(self.spark, self.path) > self.max_files:
            txlog_compact(self.spark, self.path, n_files=self.compact_files)
            # bound manifest count too: retain the last 2 snapshots (the
            # standard reader-grace contract); superseded segments are
            # provably published → no grace needed
            tx_vacuum(self.spark, self.path, keep_manifests=2)
