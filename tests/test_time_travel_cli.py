"""CLI time travel (round-7): `history` + `--at-version` on match /
restore / var2vcf reproduce a pre-mutation screen byte-equal to both
the live pre-mutation output and the API path (store.match_at) — on a
plain LOCAL root, which the protocol unification made possible."""

from __future__ import annotations

import csv
import io
import sys

import pytest

from covsonar_spark.cli import main


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory, covsonar):
    REF = covsonar.root
    d = str(tmp_path_factory.mktemp("tt_db"))
    main(["add", "--db", d, "--ref", f"{REF}/lib/ref.fna",
          "--gff", f"{REF}/lib/ref.gff3",
          "-f", f"{REF}/test/test.fasta", f"{REF}/test/test2.fasta"],
         spark=spark)
    main(["update", "--db", d, "--pangolin", f"{REF}/test/test_pangolin.csv"],
         spark=spark)
    return d


def _capture(spark, *argv):
    buf = io.StringIO()
    real = sys.stdout
    sys.stdout = buf
    try:
        main(list(argv), spark=spark)
    finally:
        sys.stdout = real
    return buf.getvalue()


def test_history_and_at_version_roundtrip(spark, db, tmp_path):
    hist = _capture(spark, "history", "--db", db)
    lines = [ln for ln in hist.splitlines() if ln.startswith("version ")]
    assert len(lines) == 2            # add, pangolin update
    v_pre = int(lines[-1].split("\t")[0].split()[1])

    # the pre-delete screen, captured live
    pre_match = _capture(spark, "match", "--db", db)
    pre_restore = _capture(spark, "restore", "--db", db, "--acc", "test1")
    accs = {r["accession"]
            for r in csv.DictReader(io.StringIO(pre_match))}
    assert "test1" in accs

    # the mutation: delete test1 (commits v_pre+1)
    main(["remove", "--db", db, "--acc", "test1"], spark=spark)
    post_match = _capture(spark, "match", "--db", db)
    post_accs = {r["accession"]
                 for r in csv.DictReader(io.StringIO(post_match))}
    assert "test1" not in post_accs

    # CLI time travel reproduces the pre-delete screens BYTE-EQUAL
    tt_match = _capture(spark, "match", "--db", db,
                        "--at-version", str(v_pre))
    assert sorted(tt_match.splitlines()) == sorted(pre_match.splitlines())
    tt_restore = _capture(spark, "restore", "--db", db, "--acc", "test1",
                          "--at-version", str(v_pre))
    assert tt_restore == pre_restore

    # ... and byte-equal to the API path
    from covsonar_spark.operators.match import MatchQuery
    from covsonar_spark.store import SonarStore

    st = SonarStore.open(spark, db)
    api = st.match_at(MatchQuery(), v_pre)
    api_accs = {r["accession"] for r in api.collect()}
    assert api_accs == accs

    # history now shows the delete commit too
    hist2 = _capture(spark, "history", "--db", db)
    assert len([ln for ln in hist2.splitlines()
                if ln.startswith("version ")]) == 3


def test_var2vcf_at_version(spark, tmp_path, covsonar):
    """Pin an export to a version OLDER than latest: the time-travel
    VCF must equal the live export captured before the delete (and so
    still carry the deleted sample), while the live post-delete export
    must not.  Pinning latest would be tautological — it could not
    detect export_vcf's read_snapshot ignoring the at_version pin."""
    REF = covsonar.root
    d = str(tmp_path / "vcf_tt_db")
    main(["add", "--db", d, "--ref", f"{REF}/lib/ref.fna",
          "--gff", f"{REF}/lib/ref.gff3",
          "-f", f"{REF}/test/test.fasta", f"{REF}/test/test2.fasta"],
         spark=spark)                                          # v1
    out_pre = str(tmp_path / "pre.vcf")
    out_post = str(tmp_path / "post.vcf")
    out_tt = str(tmp_path / "tt.vcf")
    main(["var2vcf", "--db", d, "-o", out_pre], spark=spark)
    main(["remove", "--db", d, "--acc", "test1"], spark=spark)  # v2
    main(["var2vcf", "--db", d, "-o", out_post], spark=spark)
    main(["var2vcf", "--db", d, "-o", out_tt,
          "--at-version", "1"], spark=spark)

    def body(p):
        return [ln for ln in open(p) if not ln.startswith("##")]

    pre, post, tt = body(out_pre), body(out_post), body(out_tt)
    assert "test1" in pre[0] and "test1" not in post[0]  # header columns
    assert tt == pre                 # pinned == the pre-delete screen
    assert tt != post


def test_at_unknown_version_fails_cleanly(spark, db):
    from covsonar_spark.operators.match import MatchQuery
    from covsonar_spark.store import SonarStore

    st = SonarStore.open(spark, db)
    with pytest.raises(ValueError, match="not found"):
        st.match_at(MatchQuery(), 999)


def test_vacuum_cli_bounds_time_travel(spark, tmp_path, covsonar):
    """`vacuum --retain 1 --min-age-hours 0` reaps superseded versions'
    data dirs; the latest version stays fully readable and older
    versions stop being time-travelable (their commit files age out on
    the same floor)."""
    REF = covsonar.root
    d = str(tmp_path / "vac_db")
    main(["add", "--db", d, "--ref", f"{REF}/lib/ref.fna",
          "--gff", f"{REF}/lib/ref.gff3",
          "-f", f"{REF}/test/test.fasta"], spark=spark)       # v1
    main(["update", "--db", d, "--pangolin",
          f"{REF}/test/test_pangolin.csv"], spark=spark)      # v2
    err = io.StringIO()
    real = sys.stderr
    sys.stderr = err
    try:
        main(["vacuum", "--db", d, "--retain", "1",
              "--min-age-hours", "0"], spark=spark)
    finally:
        sys.stderr = real
    assert "vacuumed" in err.getvalue()
    from covsonar_spark.store import SonarStore

    st = SonarStore.open(spark, d)
    # v1's tiny commit FILE survives as v2's delta-chain anchor
    # (round-8 compaction), but v1 itself is below the retention
    # FLOOR vacuum published — history() hides it and time travel to
    # it refuses cleanly (its data dirs are reaped)
    assert [h["version"] for h in st.history()] == [2]
    with pytest.raises(ValueError, match="retention floor"):
        st.table_at("genomes", 1)
    assert st.table("genomes").count() == 3                   # latest intact
