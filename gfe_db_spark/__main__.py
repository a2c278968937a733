"""CLI entry point — the Spark-native analog of the reference's container
entrypoint (ref ``run.sh:85-172``: fetch → build → extract → load) plus a
query runner over the registered inventory.

    python -m gfe_db_spark build -i hla.3560.dat -r 3560 -o out/ [--limit N]
    python -m gfe_db_spark load --manifest file:///.../manifest.json \
        --staging st/ --state state.json --registry reg/ --graph graph/
    python -m gfe_db_spark snapshot save|list|restore|diff --graph graph/ [--version v0001]
    python -m gfe_db_spark query gfe_naming
    python -m gfe_db_spark list

Exit codes mirror the reference's build contract (ref ``app.py:473,684-688``):
0 = success, 1 = critical failure, 2 = completed with per-record errors
(the error ledger is written as NDJSON next to the output).
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(app: str):
    from gfe_db_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cmd_build(args) -> int:
    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.plans.build import build_release
    from gfe_db_spark.sources.compat import write_error_ndjson
    from gfe_db_spark.sources.imgt import read_imgt_dat

    spark = _spark("gfe-build")
    if args.use_existing and _build_output_complete(spark, args.output):
        # the reference's Check Existing Build / USE_EXISTING_BUILD gate
        # (pipeline.asl.json:36-67): reuse prior artifacts, skip recompute
        print(f"existing build at {args.output} reused (--use-existing)", file=sys.stderr)
        return 0
    alleles = read_imgt_dat(spark, args.input)
    if args.kir_input:
        # reference fetches KIR.dat separately (constants.py:37) and unions
        # its loci into the load set (constants.py:29); same stream here
        alleles = alleles.unionByName(read_imgt_dat(spark, args.kir_input))
    registry = AccessionRegistry(spark, args.registry or os.path.join(args.output, "registry"))
    alignments = None
    if args.alignments:
        from gfe_db_spark.sources.msf import alignment_files_from_paths, read_alignments

        alignments = read_alignments(spark, alignment_files_from_paths(args.alignments))
    tables = build_release(
        spark,
        alleles,
        args.release,
        registry,
        alignments=alignments,
        limit=args.limit,
        kir=bool(args.kir_input),
    )
    out_tables = ["gfe_sequences", "all_features", "all_groups", "all_cds"]
    if tables.all_alignments is not None:
        out_tables.append("all_alignments")
    for name in out_tables:
        getattr(tables, name).write.mode("overwrite").parquet(
            os.path.join(args.output, name)
        )
    errors = tables.errors.cache()
    n_err = errors.count()
    if n_err:
        _, capped = write_error_ndjson(errors, args.output, args.release)
        print(f"build completed with {n_err} record errors (exit 2)", file=sys.stderr)
        # > max-errors is the reference's critical condition (app.py:596)
        return 1 if capped > 10 else 2
    return 0


def _build_output_complete(spark, output: str) -> bool:
    """True iff every required build table exists and is non-empty — the
    precondition for reusing a prior build (mirrors the reference's
    expected-artifacts check, validate_build_output/app.py:59-82)."""
    required = ["gfe_sequences", "all_features", "all_groups", "all_cds"]
    for name in required:
        path = os.path.join(output, name)
        if not os.path.isdir(path):
            return False
        try:
            if spark.read.parquet(path).limit(1).count() == 0:
                return False
        except Exception:
            return False
    return True


def cmd_load(args) -> int:
    from gfe_db_spark.streaming.incremental import run_incremental_from_manifest

    spark = _spark("gfe-load")
    res = run_incremental_from_manifest(
        spark,
        args.manifest,
        args.staging,
        state_path=args.state,
        registry_path=args.registry,
        graph_path=args.graph,
    )
    print(f"processed={res.processed} rejected={res.rejected}")
    return 0 if not res.rejected else 2


def cmd_query(args) -> int:
    from gfe_db_spark.queries import all_queries

    specs = all_queries()
    if args.name not in specs:
        print(f"unknown query {args.name!r}; see `python -m gfe_db_spark list`", file=sys.stderr)
        return 1
    spark = _spark(f"gfe-query-{args.name}")
    df = specs[args.name].fn(spark, args.sf_dir)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
    else:
        df.show(args.rows, truncate=False)
    return 0


def cmd_snapshot(args) -> int:
    """S12 backup/restore/diff surface (the reference's backup scripts): a
    snapshot pins a graph manifest of `--graph`, and `restore` rolls that
    graph back in place, data and release watermark together."""
    from gfe_db_spark.plans.snapshots import (
        list_snapshots,
        restore_snapshot,
        save_snapshot,
        snapshot_diff,
    )

    spark = _spark("gfe-snapshot")
    if args.action == "save":
        print(f"saved {save_snapshot(spark, args.graph)}")
    elif args.action == "list":
        for name, gm in list_snapshots(spark, args.graph).items():
            print(f"{name}  graph manifest {gm}")
    elif args.action == "restore":
        n = restore_snapshot(spark, args.graph, args.version)
        print(f"restored {args.version or 'latest'} -> {args.graph} (graph manifest {n})")
    elif args.action == "diff":
        versions = list(list_snapshots(spark, args.graph))
        if len(versions) < 2 and not (args.version and args.against):
            print("need two snapshots to diff", file=sys.stderr)
            return 1
        diff = snapshot_diff(spark, args.graph, args.against or versions[-2], args.version)
        diff.show(50, truncate=False)
    return 0


def cmd_list(args) -> int:
    from gfe_db_spark.queries import all_queries

    for name, spec in all_queries().items():
        kind = "sql " if spec.sql is not None else "rows"
        print(f"{kind}  {name:32s}  {spec.doc}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="gfe_db_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser(
        "build",
        help="parse one release .dat and export the build tables as plain parquet "
        "(an export, not the graph store; `load` commits releases to the store)",
    )
    b.add_argument("-i", "--input", required=True, help="hla.<release>.dat path")
    b.add_argument("-r", "--release", required=True, help="release number, e.g. 3560")
    b.add_argument(
        "-o", "--output", required=True, help="export directory (plain parquet, one dir per table)"
    )
    b.add_argument("--registry", help="accession registry path (default <output>/registry)")
    b.add_argument("--limit", type=int, default=None, help="build at most N alleles (W1)")
    b.add_argument(
        "--kir-input",
        default=None,
        help="KIR.dat path; unions KIR alleles into the build and enables "
        "the KIR loci filter",
    )
    b.add_argument(
        "--use-existing",
        action="store_true",
        help="skip the build when all output tables already exist and are "
        "non-empty (the reference's USE_EXISTING_BUILD gate)",
    )
    b.add_argument(
        "--alignments",
        nargs="+",
        default=None,
        metavar="MSF",
        help="MSF alignment files named <locus>_<type>.msf; enables the "
        "all_alignments build table",
    )
    b.set_defaults(fn=cmd_build)

    ld = sub.add_parser("load", help="incremental fetch+build+graph-load from a manifest")
    ld.add_argument("--manifest", required=True, help="URL of the release manifest JSON")
    ld.add_argument("--staging", required=True)
    ld.add_argument("--state", required=True, help="watermark export path (never read back)")
    ld.add_argument("--registry", required=True)
    ld.add_argument("--graph", required=True)
    ld.set_defaults(fn=cmd_load)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    q.add_argument("--rows", type=int, default=20)
    q.add_argument("-o", "--output", help="write result parquet here instead of showing")
    q.set_defaults(fn=cmd_query)

    ls = sub.add_parser("list", help="list registered queries")
    ls.set_defaults(fn=cmd_list)

    sn = sub.add_parser("snapshot", help="graph snapshot save/list/restore/diff (S12)")
    sn.add_argument("action", choices=["save", "list", "restore", "diff"])
    sn.add_argument("--graph", required=True, help="graph dir whose snapshots these are")
    sn.add_argument("--version", help="snapshot version, e.g. v0002 (default latest)")
    sn.add_argument("--against", help="older version for diff (default second-latest)")
    sn.set_defaults(fn=cmd_snapshot)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
