"""The build path (ref §3.1): parsed allele records → the five build
tables, as one lazily-planned DataFrame DAG per table.

The reference's per-allele loop (`app.py:597-667`, ~20-40 alleles/s
including a REST call per allele) becomes set-oriented transforms:
filter → explode → join → window. No driver-side iteration anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfe_db_spark.functions.scalars import null_sentinel, seq_hash_udf, version_dotted
from gfe_db_spark.plans.accession import AccessionRegistry

# ref constants.py:13-15
HLA_LOCI = [
    "HLA-A", "HLA-B", "HLA-C", "HLA-DRB1", "HLA-DQB1", "HLA-DPB1",
    "HLA-DQA1", "HLA-DPA1", "HLA-DRB3", "HLA-DRB4", "HLA-DRB5",
]
# ref constants.py:20-27 (kir_loci); enabled via the kir flag the same way
# `load_loci = hla_loci + kir_loci if kir else hla_loci` is (constants.py:29)
KIR_LOCI = [
    "KIR3DS1", "KIR3DP1", "KIR3DL3", "KIR3DL2", "KIR3DL1",
    "KIR2DS5", "KIR2DS4", "KIR2DS3", "KIR2DS2", "KIR2DS1",
    "KIR2DP1", "KIR2DL5B", "KIR2DL5A", "KIR2DL4",
]


def load_loci(kir: bool = False) -> list[str]:
    """The processable locus set: HLA always, KIR when enabled."""
    return [*HLA_LOCI, *KIR_LOCI] if kir else list(HLA_LOCI)
# ref constants.py:7-11
SKIP_ALLELES = [
    "HLA-DRB5*01:11", "HLA-DRB5*01:12", "HLA-DRB5*01:13", "HLA-DRB5*02:03",
    "HLA-DRB5*02:04", "HLA-DRB5*02:05", "HLA-DRB5*01:01:02", "HLA-DRB5*01:03",
    "HLA-DRB5*01:05", "HLA-DRB5*01:06", "HLA-DRB5*01:07", "HLA-DRB5*01:09",
    "HLA-DRB5*01:10N", "HLA-C*05:208N", "HLA-C*05:206",
]
ARD_GROUPS = ["G", "lg", "lgx"]  # ref constants.py:30


@dataclass
class BuildTables:
    gfe_sequences: DataFrame
    all_features: DataFrame
    all_groups: DataFrame
    all_cds: DataFrame
    all_alignments: DataFrame | None
    errors: DataFrame
    #: the intermediate frames `build_release` cached; every table above
    #: reads them, so release them only once the tables are consumed
    cached: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        """Drop this build's cached frames from the block manager and the
        cache manager."""
        for df in self.cached:
            df.unpersist()


def feature_order_key() -> F.Column:
    """Canonical GFE feature position (the paper's notation order:
    5'UTR, exon1, intron1, …, exonN, 3'UTR)."""
    return (
        F.when(F.col("term") == "FIVE_PRIME_UTR", F.lit(0))
        .when(F.col("term") == "EXON", F.col("rank") * 2 - 1)
        .when(F.col("term") == "INTRON", F.col("rank") * 2)
        .otherwise(F.lit(1_000_000))  # THREE_PRIME_UTR last
    )


def processable(alleles: DataFrame, kir: bool = False) -> DataFrame:
    """F1 (ref app.py:606-611) + F2 skip list (ref constants.py:7-11).
    Parse-errored records are excluded — they surface only in the error
    channel (ref app.py:630-667 skips the allele after logging), never as
    half-built GFEs. kir=True adds the KIR loci (SO4 union,
    ref constants.py:29)."""
    return alleles.filter(
        F.col("parse_error").isNull()
        & F.col("sequence").isNotNull()
        & (F.length("sequence") > 5)
        & F.col("locus").isin([*load_loci(kir), "DRB5"])
        & ~F.col("hla_name").isin(SKIP_ALLELES)
    )


def build_release(
    spark: SparkSession,
    alleles: DataFrame,
    release: str,
    registry: AccessionRegistry,
    alignments: DataFrame | None = None,
    ard_mapping: DataFrame | None = None,
    limit: int | None = None,
    kir: bool = False,
) -> BuildTables:
    """Run the full build for one release.

    alleles: schema ALLELE_RECORD (from sources/imgt.read_imgt_dat)
    alignments: schema ALIGNMENT_SCHEMA (from sources/msf) or None
    ard_mapping: columns (hla_name, ard_name, ard_id) — the broadcast
        redux lookup that replaces the per-allele pyard call (C15); None
        emits the reference's "empty group" rows only.
    kir: include KIR loci alongside HLA (ref constants.py:29 — the KIR.dat
        records are unioned into the same allele stream upstream; the build
        itself is locus-agnostic past this filter).
    """
    from gfe_db_spark.session import ship_package

    ship_package(spark)  # seq_hash_udf must be importable on workers

    imgt_release = version_dotted(F.lit(release))

    ok = processable(alleles, kir=kir)
    if limit is not None:  # W1 (ref app.py:597-599)
        ok = ok.limit(limit)

    # Cache the (filtered) allele set: every output table fans out from it.
    ok = ok.cache()

    # ---- features: explode + term normalization (F3, C6) ----
    feats = (
        ok.select(
            "allele_id",
            "hla_name",
            "locus",
            F.explode("features").alias("f"),
        )
        .select(
            "allele_id",
            "hla_name",
            "locus",
            F.upper(F.col("f.term")).alias("term"),
            F.col("f.rank").cast("int").alias("rank"),
            F.col("f.sequence").alias("sequence"),
        )
    )

    # ---- accession assignment (W6) ----
    feats = registry.assign(feats, release).cache()

    # ---- GFE naming (C16): locus + 'w' + accessions in canonical order ----
    ordered = feats.withColumn("pos", feature_order_key())
    gfe_names = (
        ordered.groupBy("allele_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("accession")))
                    ),
                    lambda s: s["accession"].cast("string"),
                ),
                "-",
            ).alias("acc_list")
        )
    )
    gfe_named = (
        ok.join(gfe_names, "allele_id", "left")
        .withColumn("gfe_name", F.concat(F.col("locus"), F.lit("w"), F.col("acc_list")))
        .drop("acc_list")
        .cache()
    )

    # ---- gfe_sequences (ref build_GFE app.py:224-246) ----
    gfe_sequences = gfe_named.select(
        "gfe_name",
        F.col("allele_id").alias("acc_name"),
        "locus",
        "hla_name",
        seq_hash_udf(F.col("sequence")).alias("seq_id"),
        "sequence",
        F.col("length").cast("long").alias("length"),
        imgt_release.alias("imgt_release"),
    )

    # ---- all_features (ref build_feature app.py:249-266) ----
    all_features = (
        feats.join(gfe_named.select("allele_id", "gfe_name"), "allele_id")
        .select(
            F.col("accession").cast("string").alias("accession"),
            null_sentinel(F.lit(None).cast("string")).alias("hash_code"),
            "locus",
            F.col("rank").cast("string").alias("rank"),
            "sequence",
            "term",
            "gfe_name",
            "allele_id",
            "hla_name",
            imgt_release.alias("imgt_release"),
        )
    )

    # ---- all_groups (ref get_groups/build_group app.py:209-220,324-342) ----
    # One row per (allele, ard_name); redux == input ⇒ empty ard_id/ard_name
    # (the reference emits the None row rather than dropping it).
    group_axis = spark.createDataFrame([(g,) for g in ARD_GROUPS], ["g"])
    base_groups = gfe_named.select("gfe_name", "allele_id", "hla_name", "locus").crossJoin(
        F.broadcast(group_axis)
    )
    if ard_mapping is not None:
        with_map = base_groups.join(
            F.broadcast(ard_mapping),
            (base_groups.hla_name == ard_mapping.hla_name) & (base_groups.g == ard_mapping.ard_name),
            "left",
        ).select(
            base_groups.gfe_name,
            base_groups.allele_id,
            base_groups.hla_name,
            F.coalesce(ard_mapping.ard_id, F.lit("")).alias("ard_id"),
            F.when(ard_mapping.ard_id.isNotNull(), base_groups.g).otherwise(F.lit("")).alias("ard_name"),
            base_groups.locus,
        )
    else:
        with_map = base_groups.select(
            "gfe_name",
            "allele_id",
            "hla_name",
            F.lit("").alias("ard_id"),
            F.lit("").alias("ard_name"),
            "locus",
        )
    all_groups = with_map.withColumn("imgt_release", imgt_release)

    # ---- all_cds (ref build_cds app.py:345-368, null-safe) ----
    has_cds = gfe_named.filter(F.col("cds_bp").isNotNull() & F.col("cds_aa").isNotNull())
    all_cds = has_cds.select(
        "gfe_name",
        seq_hash_udf(F.col("cds_bp")).alias("bp_seq_id"),
        F.col("cds_bp").alias("bp_sequence"),
        seq_hash_udf(F.col("cds_aa")).alias("aa_seq_id"),
        F.col("cds_aa").alias("aa_sequence"),
    )

    # ---- all_alignments (ref build_alignment app.py:269-321; J1) ----
    all_alignments = None
    if alignments is not None:
        label = (
            F.when(F.col("align_type") == "genomic", "GEN_ALIGN")
            .when(F.col("align_type") == "nucleotide", "NUC_ALIGN")
            .otherwise("PROT_ALIGN")
        )
        joined = gfe_named.join(
            F.broadcast(alignments), ["locus", "hla_name"], "inner"  # F9: only-if-present
        )
        all_alignments = joined.select(
            label.alias("label"),
            seq_hash_udf(F.col("aligned_seq")).alias("seq_id"),
            "gfe_name",
            "hla_name",
            F.length("aligned_seq").cast("long").alias("length"),
            F.lit("0").alias("rank"),  # ref app.py:296 hard-codes rank 0
            F.when(F.col("align_type") != "protein", F.col("aligned_seq"))
            .otherwise(F.lit(""))
            .alias("bp_sequence"),
            F.when(F.col("align_type") == "protein", F.col("aligned_seq"))
            .otherwise(F.lit(""))
            .alias("aa_sequence"),
            imgt_release.alias("imgt_release"),
        )

    # ---- errors (A11/S7: ref app.py:630-681) ----
    # Parse failures + alleles whose CDS is absent (the reference's
    # build_cds NoneType crash, app.py:351-357, surfaces here instead).
    errors = (
        alleles.filter(F.col("parse_error").isNotNull())
        .select(
            F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS").alias("timestamp"),
            "allele_id",
            "hla_name",
            F.lit(release).alias("release"),
            F.col("parse_error").alias("error"),
        )
        .unionByName(
            ok.filter(F.col("cds_bp").isNull() | F.col("cds_aa").isNull()).select(
                F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS").alias(
                    "timestamp"
                ),
                "allele_id",
                "hla_name",
                F.lit(release).alias("release"),
                F.lit("no CDS: build_cds skipped").alias("error"),
            )
        )
    )

    return BuildTables(
        gfe_sequences=gfe_sequences,
        all_features=all_features,
        all_groups=all_groups,
        all_cds=all_cds,
        all_alignments=all_alignments,
        errors=errors,
        cached=[ok, feats, gfe_named],
    )
