"""Drop-in flag compatibility with the reference CLI (sonar.py:31-486):
every flag a reference user's scripts pass must parse, and the ones with
real semantics here (--dir, --file accession lists, --compressed,
--debug, --quiet, --cpus) must behave.
"""

from __future__ import annotations

import shutil

import pytest

from covsonar_spark.cli import build_parser, main
from tests.fixtures import REFERENCE, needs_golden


@needs_golden(f"{REFERENCE}/sonar.py")
def test_every_reference_flag_parses():
    """All flags scraped from the reference's argparse definitions are
    accepted by ours (on the matching subcommand)."""
    import re

    src = open(f"{REFERENCE}/sonar.py").read()
    p = build_parser()
    sub = {a.dest: a for a in p._actions
           if isinstance(a, type(p._subparsers._group_actions[0]))}
    parsers = p._subparsers._group_actions[0].choices
    for m in re.finditer(
            r'parser_(\w+?)(?:_input|_g1|_g2)?\.add_argument\(\s*((?:"[^"]+",?\s*)+)',
            src):
        cmd = {"add": "add", "remove": "remove", "match": "match",
               "restore": "restore", "var2vcf": "var2vcf", "update": "update",
               "info": "info"}.get(m.group(1))
        if cmd is None:
            continue
        flags = re.findall(r'"(-{1,2}[A-Za-z0-9_-]+)"', m.group(2))
        known = {s for a in parsers[cmd]._actions for s in a.option_strings}
        for f in flags:
            assert f in known, f"{cmd} is missing reference flag {f}"


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory, covsonar):
    REF = covsonar.root
    tmp = tmp_path_factory.mktemp("compat")
    fasta_dir = tmp / "fastas"
    fasta_dir.mkdir()
    shutil.copy(f"{REF}/test/test.fasta", fasta_dir / "test.fasta")
    shutil.copy(f"{REF}/test/test2.fasta", fasta_dir / "corpus2.fna")
    d = str(tmp / "db")
    # --dir ingest + compat no-ops (--cache/--timeout/--noprogress/--quiet/--cpus)
    main(["add", "--db", d, "--ref", f"{REF}/lib/ref.fna",
          "--gff", f"{REF}/lib/ref.gff3", "-d", str(fasta_dir),
          "-c", str(tmp / "cache"), "-t", "600", "--noprogress", "-q",
          "--cpus", "8"], spark=spark)
    return d


def test_dir_ingest_found_all_records(spark, db, capsys):
    main(["info", "--db", db], spark=spark)
    out = capsys.readouterr().out
    assert "genomes: 4" in out


def test_match_debug_prints_plan(spark, db, capsys):
    main(["match", "--db", db, "--count", "--debug", "--no-lineage-update"],
         spark=spark)
    cap = capsys.readouterr()
    assert cap.out.strip() == "4"
    assert "Physical Plan" in cap.err


def test_accession_file_restore_and_remove(spark, db, tmp_path, capsys):
    accf = tmp_path / "accs.txt"
    accf.write_text("test1\ntest2\n")
    main(["restore", "--db", db, "-f", str(accf)], spark=spark)
    out = capsys.readouterr().out
    assert out.count(">") == 2 and ">test1" in out and ">test2" in out
    main(["remove", "--db", db, "-f", str(accf)], spark=spark)
    main(["info", "--db", db], spark=spark)
    assert "genomes: 2" in capsys.readouterr().out


def test_var2vcf_output_alias_and_betaV2(spark, db, tmp_path):
    out = tmp_path / "o.vcf"
    main(["var2vcf", "--db", db, "--output", str(out), "--betaV2"],
         spark=spark)
    text = out.read_text()
    assert text.startswith("##fileformat=VCF")


def test_forced_compression_flag(spark, tmp_path, covsonar):
    """--compressed gz on a file WITHOUT a .gz extension still
    decompresses (extension detection overridden)."""
    import gzip

    from covsonar_spark.sources.fasta import read_fasta

    p = tmp_path / "noext.fasta"
    with open(f"{covsonar.root}/test/test.fasta", "rb") as src, \
            gzip.open(p, "wb") as dst:
        dst.write(src.read())
    df = read_fasta(spark, str(p), compressed="gz")
    assert df.count() == 3
