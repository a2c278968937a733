"""Declared StructType contracts for every table in the engine.

The reference's de-facto schema registry is the csv_headers map
(`validate_build_output/app.py:165-198`, all-string CSVs); here each table
gets a real Spark schema, validated on write/read. Node/edge tables follow
`load.cyp` + `docs/source/reference.rst:102-500`.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Parsed allele records (output of sources/imgt.py, input to plans/build.py)
# --------------------------------------------------------------------------

RAW_FEATURE = T.StructType(
    [
        T.StructField("term", T.StringType()),  # five_prime_UTR / exon / intron / three_prime_UTR
        T.StructField("rank", T.IntegerType()),
        T.StructField("sequence", T.StringType()),
    ]
)

ALLELE_RECORD = T.StructType(
    [
        T.StructField("allele_id", T.StringType()),  # IMGT accession, e.g. HLA00001
        T.StructField("hla_name", T.StringType()),  # e.g. HLA-A*01:01:01:01
        T.StructField("locus", T.StringType()),  # e.g. HLA-A
        T.StructField("description", T.StringType()),
        T.StructField("sequence", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("features", T.ArrayType(RAW_FEATURE)),
        T.StructField("cds_bp", T.StringType()),  # nullable: CDS nucleotides
        T.StructField("cds_aa", T.StringType()),  # nullable: translation
        T.StructField("parse_error", T.StringType()),  # nullable: error side-channel
    ]
)

# --------------------------------------------------------------------------
# The five build-output tables (FIXTURES.md §1)
# --------------------------------------------------------------------------

GFE_SEQUENCES = T.StructType(
    [
        T.StructField("gfe_name", T.StringType()),
        T.StructField("acc_name", T.StringType()),
        T.StructField("locus", T.StringType()),
        T.StructField("hla_name", T.StringType()),
        T.StructField("seq_id", T.StringType()),
        T.StructField("sequence", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("imgt_release", T.StringType()),
    ]
)

ALL_FEATURES = T.StructType(
    [
        T.StructField("accession", T.StringType()),
        T.StructField("hash_code", T.StringType()),
        T.StructField("locus", T.StringType()),
        T.StructField("rank", T.StringType()),
        T.StructField("sequence", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("gfe_name", T.StringType()),
        T.StructField("allele_id", T.StringType()),
        T.StructField("hla_name", T.StringType()),
        T.StructField("imgt_release", T.StringType()),
    ]
)

ALL_GROUPS = T.StructType(
    [
        T.StructField("gfe_name", T.StringType()),
        T.StructField("allele_id", T.StringType()),
        T.StructField("hla_name", T.StringType()),
        T.StructField("ard_id", T.StringType()),
        T.StructField("ard_name", T.StringType()),
        T.StructField("locus", T.StringType()),
        T.StructField("imgt_release", T.StringType()),
    ]
)

ALL_CDS = T.StructType(
    [
        T.StructField("gfe_name", T.StringType()),
        T.StructField("bp_seq_id", T.StringType()),
        T.StructField("bp_sequence", T.StringType()),
        T.StructField("aa_seq_id", T.StringType()),
        T.StructField("aa_sequence", T.StringType()),
    ]
)

ALL_ALIGNMENTS = T.StructType(
    [
        T.StructField("label", T.StringType()),  # GEN_ALIGN | NUC_ALIGN | PROT_ALIGN
        T.StructField("seq_id", T.StringType()),
        T.StructField("gfe_name", T.StringType()),
        T.StructField("hla_name", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("rank", T.StringType()),
        T.StructField("bp_sequence", T.StringType()),
        T.StructField("aa_sequence", T.StringType()),
        T.StructField("imgt_release", T.StringType()),
    ]
)

ERROR_RECORD = T.StructType(
    [
        T.StructField("timestamp", T.StringType()),
        T.StructField("allele_id", T.StringType()),
        T.StructField("hla_name", T.StringType()),
        T.StructField("release", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

# --------------------------------------------------------------------------
# Graph tables (FIXTURES.md §2; load.cyp semantics)
# --------------------------------------------------------------------------

NODES_GFE = T.StructType(
    [T.StructField("name", T.StringType()), T.StructField("locus", T.StringType())]
)

NODES_SEQUENCE = T.StructType(
    [
        T.StructField("name", T.StringType()),  # ref quirk: merged on gfe_name (load.cyp:23)
        T.StructField("seq_id", T.StringType()),
        T.StructField("locus", T.StringType()),
        T.StructField("sequence", T.StringType()),
        T.StructField("length", T.LongType()),
    ]
)

NODES_FEATURE = T.StructType(
    [
        T.StructField("locus", T.StringType()),
        T.StructField("rank", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("accession", T.StringType()),
        T.StructField("sequence", T.StringType()),
    ]
)

NODES_IPD_ALLELE = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("gene", T.StringType()),
        T.StructField("G", T.StringType()),
        T.StructField("lg", T.StringType()),
    ]
)

NODES_IPD_ACCESSION = T.StructType([T.StructField("name", T.StringType())])

NODES_SUBMITTER = T.StructType(
    [
        T.StructField("institution", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("email", T.StringType()),
    ]
)

EDGES_HAS_IPD_ALLELE = T.StructType(
    [
        T.StructField("src", T.StringType()),  # gfe name
        T.StructField("dst", T.StringType()),  # hla name
        T.StructField("releases", T.ArrayType(T.IntegerType())),
    ]
)

EDGES_HAS_IPD_ACCESSION = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("release", T.StringType()),
    ]
)

EDGES_SUBMITTED = T.StructType(
    [
        T.StructField("src", T.StringType()),  # submitter email
        T.StructField("dst", T.StringType()),  # gfe name
        T.StructField("submit_date", T.DateType()),
    ]
)

EDGES_HAS_SEQUENCE = T.StructType(
    [T.StructField("src", T.StringType()), T.StructField("dst", T.StringType())]
)

EDGES_HAS_FEATURE = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst_locus", T.StringType()),
        T.StructField("dst_rank", T.StringType()),
        T.StructField("dst_term", T.StringType()),
        T.StructField("dst_accession", T.StringType()),
    ]
)

# Accession registry (plans/accession.py): the persistent dictionary-encoding
# of feature sequences within (locus, term, rank) — SURVEY §2.5 W6.
ACCESSION_REGISTRY = T.StructType(
    [
        T.StructField("locus", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("sequence", T.StringType()),
        T.StructField("accession", T.IntegerType()),
        T.StructField("first_release", T.StringType()),
    ]
)
