"""CLI-level replay of the reference CI script (test.sh) through
covsonar_spark.cli.main — the user-facing switch-over surface.  The
corpus is covsonar's checkout or, without it, the synthetic bundle of
tests/fixtures.py (the expected.csv golden test then skips)."""

from __future__ import annotations

import csv
import io
import os

import pytest

from covsonar_spark.cli import main
from tests.fixtures import REFERENCE, needs_golden


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory, covsonar):
    REF = covsonar.root
    d = str(tmp_path_factory.mktemp("cli_db"))
    main(["add", "--db", d, "--ref", f"{REF}/lib/ref.fna",
          "--gff", f"{REF}/lib/ref.gff3",
          "--lineages", f"{REF}/lib/lineage.all.tsv",
          "-f", f"{REF}/test/test.fasta", f"{REF}/test/test2.fasta"],
         spark=spark)
    main(["update", "--db", d, "--pangolin", f"{REF}/test/test_pangolin.csv"],
         spark=spark)
    main(["update", "--db", d, "--tsv", f"{REF}/test/test.tsv.gz", "--fields",
          "accession=accessions", "zip=regions", "date=dates", "gisaid=gisaid",
          "ena=ena", "lab=lab", "source=source", "collection=collection",
          "technology=technology", "platform=platform", "chemistry=chemistry",
          "material=material", "ct=ct", "software=software",
          "software_version=software_version"], spark=spark)
    main(["optimize", "--db", d], spark=spark)
    return d


def _match_csv(spark, db, *argv, capsys=None):
    import covsonar_spark.cli as cli
    import sys

    buf = io.StringIO()
    real = sys.stdout
    sys.stdout = buf
    try:
        cli.main(["match", "--db", db, *argv], spark=spark)
    finally:
        sys.stdout = real
    return list(csv.DictReader(io.StringIO(buf.getvalue())))


@needs_golden(f"{REFERENCE}/test/expected.csv")
def test_match_full_output_matches_expected_csv(spark, db):
    exp = {r["accession"]: r
           for r in csv.DictReader(open(f"{REFERENCE}/test/expected.csv"))}
    rows = _match_csv(spark, db, "--acc", *exp)
    assert {r["accession"] for r in rows} == set(exp)
    for got in rows:
        e = exp[got["accession"]]
        for col, want in e.items():
            if col == "ct" and want:
                assert float(got[col]) == float(want)
            else:
                want_v = want.strip() if col.endswith("profile") else want
                assert got[col] == want_v, (got["accession"], col)


def test_match_filters_and_count(spark, db, capsys, covsonar):
    facts = covsonar.facts
    rows = _match_csv(spark, db, "-i", facts.only_test2_snp,
                      "-e", facts.test2_lacks_snp)
    assert [r["accession"] for r in rows] == ["test2"]
    lab, source = facts.lab_source
    main(["match", "--db", db, "--count", "--lab", lab, "--source", source],
         spark=spark)
    assert capsys.readouterr().out.strip() == "1"


def test_restore_roundtrip(spark, db, tmp_path, covsonar):
    out = str(tmp_path / "r.fasta")
    main(["restore", "--db", db, "--acc", "test3", "-o", out], spark=spark)
    text = open(out).read()
    assert text.startswith(">test3")
    from covsonar_spark.functions.genetics import harmonize, read_fasta_one
    _, _, want = read_fasta_one(f"{covsonar.root}/test/test2.fasta")
    assert text.splitlines()[1] == harmonize(want)


def test_var2vcf_and_remove_info(spark, db, tmp_path, capsys):
    out = str(tmp_path / "o.vcf")
    main(["var2vcf", "--db", db, "-o", out], spark=spark)
    lines = open(out).read().splitlines()
    assert lines[0] == "##fileformat=VCFv4.2"
    assert any(ln.startswith("#CHROM") for ln in lines)
    assert len([ln for ln in lines if not ln.startswith("#")]) > 20

    main(["info", "--db", db], spark=spark)
    info_out = capsys.readouterr().out
    assert "genomes: 4" in info_out

    main(["remove", "--db", db, "--acc", "test3"], spark=spark)
    main(["info", "--db", db], spark=spark)
    assert "genomes: 3" in capsys.readouterr().out


def test_bad_ct_rejected(spark, db, tmp_path):
    bad = tmp_path / "meta.csv"
    bad.write_text("acc,ctv\ntest1,notafloat\n")
    with pytest.raises(SystemExit, match="ct value"):
        main(["update", "--db", db, "--csv", str(bad),
              "--fields", "accession=acc", "ct=ctv"], spark=spark)


def test_info_reports_db_size(spark, db, capsys):
    main(["info", "--db", db], spark=spark)
    out = capsys.readouterr().out
    line = [ln for ln in out.splitlines() if ln.startswith("db_size_bytes")][0]
    assert int(line.split(": ")[1]) > 10000


def test_assets_persisted(db):
    assert os.path.exists(os.path.join(db, "assets", "ref.fna"))
    assert os.path.exists(os.path.join(db, "assets", "ref.gff3"))


def test_sql_subcommand_queries_essence(spark, db, capsys, covsonar):
    """`sql` (the reference's dead `view` handler made functional) runs
    arbitrary SQL over the registered views and agrees with `match`."""
    snp = covsonar.facts.shared_snp
    main(["sql", "--db", db,
          "SELECT accession FROM essence "
          f"WHERE array_contains(dna_profile, '{snp}') ORDER BY accession"],
         spark=spark)
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "accession"
    sql_accs = out[1:]
    # must agree with the Python match path on the same predicate
    api = _match_csv(spark, db, "-i", snp)
    api_accs = sorted(r["accession"] for r in api)
    assert sql_accs == api_accs and len(sql_accs) > 0


def test_dq_subcommand_reports_clean_store(spark, db, capsys):
    """`dq` audits the store's PK/FK/null/range constraints; the CI
    corpus must be violation-free (exit 0, all rules ok)."""
    main(["dq", "--db", db], spark=spark)
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split(",")[0] == "rule"
    rules = [l.split(",") for l in out[1:]]
    assert len(rules) == 5
    assert all(r[1] == "0" and r[3] == "True" for r in rules)


def test_update_lineage_info_fetch_errors_cleanly_offline(spark, db):
    """--fetch in an offline environment exits with an actionable
    message (the documented gate for the reference's networked
    update-lineage-info), never a stack trace; --input stays the
    local-first path."""
    import covsonar_spark.cli as cli

    with pytest.raises(SystemExit) as exc:
        main(["update-lineage-info", "--db", db, "--fetch",
              "-o", os.path.join(db, "lts.tsv")], spark=spark)
    msg = str(exc.value)
    assert "offline" in msg and "--input" in msg

    # missing --input without --fetch: clean contract error
    with pytest.raises(SystemExit) as exc2:
        main(["update-lineage-info", "--db", db,
              "-o", os.path.join(db, "lts.tsv")], spark=spark)
    assert "--input" in str(exc2.value)


def test_update_lineage_info_local_input(spark, db, tmp_path):
    """The local-file contract: a pango-designation-style csv (header
    line, lineage first column) rebuilds the closure table."""
    src = tmp_path / "lineages.csv"
    src.write_text("lineage,description\nB.1,x\nB.1.1,x\nB.1.1.7,x\n")
    out = tmp_path / "lts.tsv"
    main(["update-lineage-info", "--db", db, "--input", str(src),
          "-o", str(out)], spark=spark)
    body = out.read_text().splitlines()
    assert body[0] == "lineage\tsublineage"
    closure = {ln.split("\t")[0]: set(ln.split("\t")[1].split(","))
               for ln in body[1:]}
    assert closure["B.1"] == {"B.1.1", "B.1.1.7"}
    assert closure["B.1.1.7"] == {"none"}
