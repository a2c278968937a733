"""CLI entry point (__main__): the run.sh-analog surface — build with the
exit-code contract, manifest load, query runner, inventory listing."""

from __future__ import annotations

import json
import os

from gfe_db_spark.__main__ import main
from tests import gfe_fixtures as fx


def test_cli_build_and_exit_code_contract(spark, tmp_path, capsys):
    dat = fx.write_release_dat(str(tmp_path), "3550")
    out = str(tmp_path / "out")
    # fixture contains a no-CDS allele → completes with record errors → 2
    rc = main(["build", "-i", dat, "-r", "3550", "-o", out])
    assert rc == 2
    assert os.path.exists(os.path.join(out, "gfe_sequences"))
    ledger = [p for p in os.listdir(out) if p.startswith("errors.")]
    assert ledger, "error ledger written"


def test_cli_build_with_alignments(spark, tmp_path):
    """--alignments feeds build_release(alignments=...) and writes the
    fifth build table; filenames follow the reference's <locus>_<type>.msf
    convention."""
    dat = fx.write_release_dat(str(tmp_path), "3550")
    msf_files = fx.write_msf(str(tmp_path))
    out = str(tmp_path / "out")
    rc = main(["build", "-i", dat, "-r", "3550", "-o", out,
               "--alignments", *msf_files.values()])
    assert rc == 2  # fixture still carries the no-CDS allele
    aligns = spark.read.parquet(os.path.join(out, "all_alignments"))
    assert {r.hla_name for r in aligns.collect()} == {
        "HLA-A*01:01:01:01", "HLA-A*01:02",
    }


def test_cli_build_with_kir(spark, tmp_path):
    """--kir-input unions KIR.dat alleles into the build stream and
    enables the KIR loci filter."""
    dat = fx.write_release_dat(str(tmp_path), "3550")
    kir = fx.write_kir_dat(str(tmp_path))
    out = str(tmp_path / "out")
    rc = main(["build", "-i", dat, "-r", "3550", "-o", out, "--kir-input", kir])
    assert rc == 2  # fixture still carries the no-CDS allele
    seqs = spark.read.parquet(os.path.join(out, "gfe_sequences"))
    assert seqs.filter(f"hla_name = '{fx.ALLELE_KIR[1]}'").count() == 1


def test_cli_query_and_list(spark, tmp_path, capsys):
    from tests.conftest import SF_SMOKE
    rc = main(["query", "a7_label_counts", "--sf-dir", SF_SMOKE,
               "-o", str(tmp_path / "res")])
    assert rc == 0
    assert spark.read.parquet(str(tmp_path / "res")).count() > 0
    assert main(["query", "nope_not_real"]) == 1
    assert main(["list"]) == 0
    listing = capsys.readouterr().out
    assert "q1_pricing_summary" in listing and "gfe_end_to_end" in listing


def test_cli_snapshot_roundtrip(spark, tmp_path, capsys):
    """snapshot save → list → diff → restore from the command surface, on
    the graph's own manifests. Restore rolls the live graph back in place,
    its data and its release watermark together, so the next `load`
    reprocesses the later release with the same --state export path."""
    from gfe_db_spark.plans.load import GraphTables

    remote = tmp_path / "remote"
    remote.mkdir()
    fx.write_release_dat(str(remote), "3550")
    fx.write_release_dat(str(remote), "3560")
    graph = str(tmp_path / "graph")

    def load(releases: tuple[str, ...]) -> str:
        manifest = tmp_path / "m.json"
        manifest.write_text(json.dumps({
            "releases": {r: f"file://{remote}/hla.{r}.dat" for r in releases}
        }))
        assert main([
            "load", "--manifest", f"file://{manifest}",
            "--staging", str(tmp_path / "st"),
            "--state", str(tmp_path / "state.json"),
            "--registry", str(tmp_path / "reg"),
            "--graph", graph,
        ]) == 0
        return capsys.readouterr().out

    def n_nodes() -> int:
        return GraphTables.load(spark, graph).nodes_gfe.count()

    load(("3550",))
    n_3550 = n_nodes()
    assert main(["snapshot", "save", "--graph", graph]) == 0
    assert "processed=['3560']" in load(("3550", "3560"))
    n_3560 = n_nodes()
    assert n_3560 > n_3550 > 0
    assert main(["snapshot", "save", "--graph", graph]) == 0
    assert main(["snapshot", "list", "--graph", graph]) == 0
    listing = capsys.readouterr().out
    assert "v0001" in listing and "v0002" in listing
    assert main(["snapshot", "diff", "--graph", graph]) == 0
    assert "nodes_gfe" in capsys.readouterr().out

    assert main(["snapshot", "restore", "--graph", graph, "--version", "v0001"]) == 0
    assert n_nodes() == n_3550

    # restore-then-load: the watermark rolled back with the data, so the
    # next load reprocesses 3560 on top of the restored graph
    assert "processed=['3560']" in load(("3550", "3560"))
    assert n_nodes() == n_3560
    assert json.load(open(tmp_path / "state.json"))["releases"] == ["3550", "3560"]


def test_cli_load_from_manifest(spark, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    fx.write_release_dat(str(remote), "3550")
    manifest = tmp_path / "m.json"
    manifest.write_text(json.dumps({
        "releases": {"3550": f"file://{remote}/hla.3550.dat"}
    }))
    rc = main([
        "load", "--manifest", f"file://{manifest}",
        "--staging", str(tmp_path / "st"),
        "--state", str(tmp_path / "state.json"),
        "--registry", str(tmp_path / "reg"),
        "--graph", str(tmp_path / "graph"),
    ])
    assert rc == 0
    assert os.path.exists(str(tmp_path / "graph" / "nodes_gfe"))


def test_cli_build_use_existing_skips(spark, tmp_path, capsys):
    """--use-existing reuses complete prior artifacts (exit 0, no rebuild)
    but rebuilds when the output is missing or incomplete."""
    import shutil

    dat = fx.write_release_dat(str(tmp_path), "3550")
    out = str(tmp_path / "out")
    # nothing there yet → builds (fixture has a no-CDS allele → exit 2)
    rc = main(["build", "-i", dat, "-r", "3550", "-o", out, "--use-existing"])
    assert rc == 2
    mtime = os.path.getmtime(os.path.join(out, "gfe_sequences"))
    # complete output → skipped, exit 0, artifacts untouched
    rc = main(["build", "-i", dat, "-r", "3550", "-o", out, "--use-existing"])
    assert rc == 0
    assert "reused" in capsys.readouterr().err
    assert os.path.getmtime(os.path.join(out, "gfe_sequences")) == mtime
    # incomplete output (a table missing) → rebuilds
    shutil.rmtree(os.path.join(out, "all_groups"))
    rc = main(["build", "-i", dat, "-r", "3550", "-o", out, "--use-existing"])
    assert rc == 2
    assert os.path.isdir(os.path.join(out, "all_groups"))
