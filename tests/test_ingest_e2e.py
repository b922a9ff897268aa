"""End-to-end ingest → match → restore on the reference's own CI corpus
(test.fasta + test2.fasta), validated against expected.csv /
expected2.csv / expected3.csv — the Spark twin of reference test.sh.
Without covsonar's checkout the corpus is the synthetic bundle of
tests/fixtures.py, corpus facts come from its ``facts`` record, and
the expected*.csv golden tests skip.
The add-semantics tests (conflicts, duplicates, skips, force, errors,
the paranoid check) run on a synthetic one-CDS reference instead, so
they need no reference files."""

from __future__ import annotations

import csv

import pytest

from pyspark.sql.functions import col as F_col

from covsonar_spark.functions.genetics import harmonize, parse_gff3, read_fasta_one
from covsonar_spark.operators.match import MatchQuery
from covsonar_spark.operators.restore import restore_genomes
from covsonar_spark.sources.fasta import read_fasta
from covsonar_spark.store import SonarStore
from tests.fixtures import needs_golden

# covsonar's checkout: only its golden expected*.csv files are read here
REF_DIR = "/root/reference"


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, covsonar):
    root = covsonar.root
    _, _, ref = read_fasta_one(f"{root}/lib/ref.fna")
    ref = harmonize(ref)
    cds = parse_gff3(f"{root}/lib/ref.gff3", ref)
    from covsonar_spark.operators.lineage import load_sublineage_map
    st = SonarStore(spark, str(tmp_path_factory.mktemp("sonar_db")), ref, cds,
                    sublineage_map=load_sublineage_map(
                        f"{root}/lib/lineage.all.tsv"))
    records = read_fasta(spark, [f"{root}/test/test.fasta",
                                 f"{root}/test/test2.fasta"])
    report = st.add_fasta_df(records)
    assert report["errors"] == {}
    assert report["paranoid_mismatches"] == []
    assert report["added_accessions"] == 4
    # metadata flow of reference test.sh:33-35: pangolin then tsv
    from covsonar_spark.sources.metadata import (read_metadata_csv,
                                                 read_pangolin_csv)
    st.update_metadata(read_pangolin_csv(spark, f"{root}/test/test_pangolin.csv"))
    st.update_metadata(read_metadata_csv(
        spark, f"{root}/test/test.tsv.gz", sep="\t",
        fields={"accession": "accessions", "zip": "regions", "date": "dates",
                "gisaid": "gisaid", "ena": "ena", "lab": "lab",
                "source": "source", "collection": "collection",
                "technology": "technology", "platform": "platform",
                "chemistry": "chemistry", "material": "material", "ct": "ct",
                "software": "software", "software_version": "software_version"}))
    return st


@pytest.fixture(scope="module")
def synth_ref():
    """(reference, cds list) of a random 306-bp reference — 60-bp flanks
    around one stop-free CDS — so the add-semantics tests need no
    reference files."""
    import random

    from covsonar_spark.functions.genetics import CDS

    rng = random.Random(11)
    codons = [a + b + c for a in "ACGT" for b in "ACGT" for c in "ACGT"
              if a + b + c not in ("TAA", "TAG", "TGA")]
    gene = "ATG" + "".join(rng.choice(codons) for _ in range(60)) + "TAA"

    def flank():
        return "".join(rng.choice("ACGT") for _ in range(60))
    ref = flank() + gene + flank()
    return ref, [CDS("L1", "G1", [(60, 60 + len(gene))], [gene])]


@pytest.fixture(scope="module")
def synth_store(spark, tmp_path_factory, synth_ref):
    """A small store on the synthetic reference holding ``test1``."""
    ref, cds = synth_ref
    st = SonarStore(spark, str(tmp_path_factory.mktemp("synth_db")), ref, cds)
    rep = st.add_fasta_df(_records(spark, [("test1", "test1", ref)]))
    assert rep["errors"] == {} and rep["paranoid_mismatches"] == []
    return st


def _records(spark, rows):
    return spark.createDataFrame(
        rows, "accession string, description string, sequence string")


def _row_as_csv_dict(row) -> dict:
    out = {}
    for k, v in row.asDict().items():
        if isinstance(v, list):
            out[k] = " ".join(v)
        elif v is None:
            out[k] = ""
        else:
            out[k] = str(v)
    return out


def test_counts(store):
    assert store.table("genomes").count() == 4
    assert store.table("sequences").count() == 4
    assert store.table("profiles").count() == 4


@needs_golden(f"{REF_DIR}/test/expected.csv")
def test_match_profiles_vs_expected_csv(store):
    exp = {r["accession"]: r
           for r in csv.DictReader(open(f"{REF_DIR}/test/expected.csv"))}
    rows = {r["accession"]: r for r in store.match(MatchQuery(
        accessions=list(exp))).collect()}
    assert set(rows) == set(exp)
    for acc, e in exp.items():
        got = rows[acc]
        assert " ".join(got["dna_profile"]) == e["dna_profile"].strip(), acc
        assert " ".join(got["aa_profile"]) == e["aa_profile"].strip(), acc
        assert " ".join(got["fs_profile"]) == e["fs_profile"].strip(), acc
        assert got["seqhash"] == e["seqhash"], acc


@needs_golden(f"{REF_DIR}/test/expected3.csv")
def test_match_ambig_vs_expected3_csv(store):
    row = next(csv.DictReader(open(f"{REF_DIR}/test/expected3.csv")))
    got = store.match(MatchQuery(frameshifts=1, ambig=True)).collect()
    assert len(got) == 1
    g = got[0]
    assert g["accession"] == "test3"
    assert " ".join(g["dna_profile"]) == row["dna_profile"].strip()
    assert " ".join(g["aa_profile"]) == row["aa_profile"].strip()
    assert " ".join(g["fs_profile"]) == row["fs_profile"].strip()


def test_frameshift_counts(store):
    # test.sh:163-171 — 3 genomes without frameshifts
    n = store.match(MatchQuery(frameshifts=-1, count=True)).collect()[0]["count"]
    assert n == 3


def test_restore_round_trip(store, covsonar):
    # test.sh:184-193 — restore byte-equals the input FASTA sequence
    _, _, want = read_fasta_one(f"{covsonar.root}/test/test2.fasta")
    got = restore_genomes(store, ["test3"]).collect()[0]
    assert got["sequence"] == harmonize(want)
    # every accession round-trips
    restored = {r["accession"]: r["sequence"]
                for r in restore_genomes(store).collect()}
    assert len(restored) == 4


def test_restore_alignment(store, covsonar):
    """T14 — the restored aligned pair degaps back to query/reference
    and the rows align position-for-position."""
    from covsonar_spark.functions.genetics import harmonize, read_fasta_one
    from covsonar_spark.operators.restore import restore_alignments

    got = restore_alignments(store, ["test3"]).collect()[0]
    _, _, want = read_fasta_one(f"{covsonar.root}/test/test2.fasta")
    assert got["qry_aligned"].replace("-", "") == harmonize(want)
    assert got["ref_aligned"].replace("-", "") == store.ref_seq
    assert len(got["qry_aligned"]) == len(got["ref_aligned"])


def test_readd_is_idempotent(store, spark, covsonar):
    # re-adding the same corpus creates no new sequences and keeps counts
    records = read_fasta(spark, [f"{covsonar.root}/test/test.fasta"])
    report = store.add_fasta_df(records)
    assert report["new_sequences"] == 0
    assert store.table("genomes").count() == 4
    assert store.table("profiles").count() == 4


@needs_golden(f"{REF_DIR}/test/expected.csv")
def test_match_full_rows_vs_expected_csv(store):
    """test.sh match 1 — every output column (22) byte-equals
    expected.csv after the metadata updates."""
    exp = {r["accession"]: r
           for r in csv.DictReader(open(f"{REF_DIR}/test/expected.csv"))}
    rows = {r["accession"]: _row_as_csv_dict(r)
            for r in store.match(MatchQuery(accessions=list(exp))).collect()}
    assert set(rows) == set(exp)
    for acc, e in exp.items():
        got = rows[acc]
        for col, want in e.items():
            if col == "ct" and want:
                assert float(got[col]) == float(want), (acc, col)
            else:
                want_v = want.strip() if col.endswith("profile") else want
                assert got[col] == want_v, (acc, col)


def _assert_expected2(store, query):
    exp = next(csv.DictReader(open(f"{REF_DIR}/test/expected2.csv")))
    got_rows = store.match(query).collect()
    assert len(got_rows) == 1
    got = _row_as_csv_dict(got_rows[0])
    for col, want in exp.items():
        if col == "ct":
            assert float(got[col]) == float(want)
        elif col.endswith("profile"):
            assert got[col] == want.strip()
        else:
            assert got[col] == want, col


@needs_golden(f"{REF_DIR}/test/expected2.csv")
def test_match_2_to_7_vs_expected2_csv(store):
    """test.sh matches 2-7: date+SNP, SNP, include+exclude, --acc,
    --zip prefix, ^-negations — all return exactly the test2 row."""
    _assert_expected2(store, MatchQuery(dates=["2021-01-01:2021-01-31"],
                                        profiles=[["C241T"]],
                                        accessions=["NC_045512.2", "test1", "test2"]))
    _assert_expected2(store, MatchQuery(profiles=[["G1820A"]]))
    _assert_expected2(store, MatchQuery(profiles=[["G1820A"]],
                                        exclude_profiles=[["C1348T"]]))
    _assert_expected2(store, MatchQuery(accessions=["test2"]))
    _assert_expected2(store, MatchQuery(zips=["0177"]))
    _assert_expected2(store, MatchQuery(
        accessions=["^NC_045512.2", "^test3"], lineages=["^B.1.1.297"]))


def _count(store, **kw):
    return store.match(MatchQuery(count=True, **kw)).collect()[0]["count"]


def test_match_counts_8_to_12(store, covsonar):
    """test.sh matches 8-12 (post test2.fasta state): metadata combos
    incl. ct range and the software/version equality pair."""
    for kw, n in covsonar.facts.counts:
        assert _count(store, **kw) == n, kw


def test_match_with_sublineage(store, covsonar):
    """--with-sublineage: B.1.1 closes over B.1.1.189/B.1.1.297 via the
    taxonomy (F14); exact lineage B.1.1 alone matches nothing."""
    facts = covsonar.facts
    parent = facts.parent_lineage
    assert _count(store, lineages=[parent]) == 0
    got = {r["accession"] for r in store.match(
        MatchQuery(lineages=[parent], with_sublineage=True)).collect()}
    assert got == facts.parent_accessions
    # wildcard expansion (F13): B.1.1.% hits the two stored sublineages
    assert _count(store, lineages=[parent + ".%"]) == \
        len(facts.parent_accessions)


def test_info(store, covsonar):
    want = covsonar.facts.info
    inf = store.info()
    assert inf["genomes"] == 4
    assert inf["unique_sequences"] == 4
    assert inf["labs"] == want["labs"]
    assert str(inf["earliest_date"]) == want["earliest_date"]
    assert str(inf["latest_date"]) == want["latest_date"]
    assert inf["n_lineage"] == want["n_lineage"] and inf["n_ct"] == want["n_ct"]


def test_vcf_export(store, tmp_path, covsonar):
    from covsonar_spark.operators.vcf import export_vcf

    out = str(tmp_path / "out.vcf")
    sites = export_vcf(store, out).collect()
    assert sites, "expected at least one VCF site row"
    by_pos = {(r["pos"], r["vcf_type"]): r for r in sites}
    # D614G: A23403G (0-based 23402) is shared by test1/test2/test3 → AC=3
    pos, ref, alt = covsonar.facts.shared_site
    r = by_pos[(pos, "SNP")]
    assert r["ref"] == ref and r["alt"] == alt and r["an"] == 3 and r["ac"] == "3"
    assert r["info"] == "AN=3;AC=3;TYPE=SNP"
    assert r["vcf_id"] == f"{ref}{pos}{alt}"
    # deletions are dropped (v2 parity); every pos is 1-based in range
    assert all(t != "DEL" for (_, t) in by_pos)
    assert all(1 <= p <= 29903 for (p, _) in by_pos)
    lines = open(out).read().splitlines()
    hdr = [ln for ln in lines if ln.startswith("#CHROM")][0]
    assert hdr.split("\t")[9:] == sorted(hdr.split("\t")[9:])
    data = [ln for ln in lines if not ln.startswith("#")]
    assert len(data) == len(sites)
    poss = [int(ln.split("\t")[1]) for ln in data]
    assert poss == sorted(poss)
    # genotype columns are ints or '.'
    for ln in data[:5]:
        for gt in ln.split("\t")[9:]:
            assert gt == "." or gt.isdigit()


def test_per_sample_vcfs(store, tmp_path):
    """S8 v1 semantics — one single-sample VCF per accession via a
    partitioned text write."""
    from covsonar_spark.operators.vcf import (calls_from_dna_view, dna_view,
                                              write_sample_vcfs)

    view = dna_view(store.table("genomes"), store.table("dna_variants"))
    calls = calls_from_dna_view(view)
    out = str(tmp_path / "vcfs")
    n = write_sample_vcfs(calls, out)
    assert n == 3  # NC_045512.2 has no variants → no partition
    import glob
    files = glob.glob(f"{out}/accession=*/*.vcf")
    assert len(files) == 3
    t2 = [f for f in files if "test2" in f][0]
    lines = open(t2).read().splitlines()
    assert lines[0] == "##fileformat=VCFv4.2"
    hdr = [ln for ln in lines if ln.startswith("#CHROM")][0]
    assert hdr.split("\t")[9] == "test2"
    data = [ln for ln in lines if not ln.startswith("#")]
    poss = [int(ln.split("\t")[1]) for ln in data]
    assert poss == sorted(poss) and len(data) >= 20
    assert all(ln.split("\t")[9] == "1" for ln in data)


def test_conflicting_sequence_rejected(synth_store, spark):
    store = synth_store
    bad = spark.createDataFrame(
        [("test1", "test1 desc", "ACGT" * 100)],
        "accession string, description string, sequence string")
    with pytest.raises(ValueError, match="different"):
        store.add_fasta_df(bad)


def test_within_batch_conflict_rejected(synth_store, spark):
    store = synth_store
    a = "ACGT" * 100
    b = "ACGT" * 99 + "ACGA"
    bad = spark.createDataFrame(
        [("dup1", "v1", a), ("dup1", "v2", b)],
        "accession string, description string, sequence string")
    with pytest.raises(ValueError, match="conflicting"):
        store.add_fasta_df(bad)
    # identical duplicate records collapse silently
    ok = spark.createDataFrame(
        [("test1", "test1", a), ("test1", "test1", a)],
        "accession string, description string, sequence string")
    with pytest.raises(ValueError, match="different"):
        # still conflicts with the STORED test1 sequence, proving the
        # batch-dedup ran before the store conflict check
        store.add_fasta_df(ok)


def test_physical_layout_and_date_pruning(store, covsonar):
    """Post-unification physical layout: genomes live as immutable
    commit-log dirs (no hive partitioning — file statistics subsume
    it, the Delta/Iceberg trade); a dated match still answers
    correctly, and once a genomes manifest exists its per-file date
    min/max skips files for dated queries."""
    import os
    dirs = store._live_dirs("genomes")
    assert dirs and all(os.sep + "_data" + os.sep in d or "/_data/" in d
                        for d in dirs), dirs
    facts = covsonar.facts
    res = store.match(MatchQuery(dates=[facts.month]))
    assert {r["accession"] for r in res.collect()} == facts.month_accessions
    # the date predicate reaches the parquet scan (row-group pruning)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "date" in plan


def test_remove_with_orphan_gc(store, covsonar):
    """test.sh:195-217 — removing the last accession of a seqhash
    garbage-collects its sequence/profile/variant rows. Runs last: it
    mutates the shared store."""
    hash_before = {r["seqhash"] for r in
                   store.table("genomes").where(F_col("accession") == "test3")
                   .select("seqhash").collect()}
    rep = store.remove(["test3"])
    assert rep == {"removed_accessions": 1, "gc_seqhashes": 1}
    assert store.table("genomes").count() == 3
    for t in ("sequences", "profiles", "dna_variants", "prot_variants"):
        left = {r["seqhash"] for r in
                store.table(t).select("seqhash").distinct().collect()}
        assert not (hash_before & left), t
    lab, source = covsonar.facts.lab_source
    assert _count(store, labs=[lab], sources=[source]) == 0


def test_sql_views_answer_match_queries(spark, store, covsonar):
    """register_views exposes the store to spark.sql: the essence view
    answers the reference's flagship profile+lineage match with plain
    SQL and agrees with the Python MatchQuery path."""
    snp = covsonar.facts.shared_snp
    names = store.register_views()
    assert "essence" in names and "genomes" in names
    sql_rows = sorted(r["accession"] for r in spark.sql(f"""
        SELECT accession FROM essence
        WHERE array_contains(dna_profile, '{snp}')
    """).collect())
    api_rows = sorted(
        r["accession"] for r in
        store.match(MatchQuery(profiles=[[snp]]))
        .select("accession").collect())
    assert sql_rows == api_rows and len(sql_rows) > 0


def test_variant_trends_and_lineage_frequencies(store, covsonar):
    """Surveillance analytics over the ingested reference corpus:
    token shares and lineage shares per month sum to sensible totals."""
    trends = store.variant_trends().collect()
    assert trends, "corpus has dated genomes with variants"
    for r in trends:
        assert 0 < r["share"] <= 1 and r["n"] <= r["n_total"]
    # token totals agree with the store's own dated-genome counts
    # (order-robust: earlier tests mutate the shared store)
    snp = covsonar.facts.shared_snp
    c241t = [r for r in trends if r["token"] == snp]
    from pyspark.sql import functions as F

    expected = (store.essence()
                .where(F_col("date").isNotNull())
                .where(F.array_contains("dna_profile", snp)).count())
    assert c241t and sum(r["n"] for r in c241t) == expected

    lf = store.lineage_frequencies().collect()
    by_month = {}
    for r in lf:
        by_month.setdefault(r["month"], 0)
        by_month[r["month"]] += r["n"]
    # shares within a month sum to 1 (4 decimals)
    for m in by_month:
        assert abs(sum(r["share"] for r in lf if r["month"] == m) - 1.0) < 1e-3


def test_empty_sequence_records_are_skipped(spark, tmp_path_factory, synth_ref):
    """Header-only records must be skipped like the reference
    (sonar.py:579-580), not ingested as whole-genome deletions."""
    ref, cds = synth_ref
    st = SonarStore(spark, str(tmp_path_factory.mktemp("empty_seq")), ref, cds)
    recs = spark.createDataFrame(
        [("good1", "good1", ref), ("stub1", "stub1", "")],
        "accession string, description string, sequence string")
    rep = st.add_fasta_df(recs)
    assert rep["skipped_empty"] == 1 and rep["added_accessions"] == 1
    assert {r["accession"] for r in st.table("genomes").collect()} == {"good1"}


def test_add_report_counts_and_phase_timings(spark, tmp_path, synth_ref):
    """The add report carries its batch counts and non-negative wall
    seconds for every ingest phase."""
    ref, cds = synth_ref
    snp = ref[:100] + ("A" if ref[100] != "A" else "C") + ref[101:]
    st = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    recs = spark.createDataFrame(
        [("wt", "wt", ref), ("snp", "snp", snp), ("snp", "snp", snp),
         ("stub", "stub", "")],
        "accession string, description string, sequence string")
    rep = st.add_fasta_df(recs)
    assert rep["paranoid_mismatches"] == [] and rep["errors"] == {}
    assert (rep["added_accessions"], rep["new_sequences"],
            rep["skipped_empty"]) == (2, 2, 1)
    assert set(rep["timings"]) == {"validate", "derive", "appends",
                                   "paranoid", "manifest"}
    assert all(v >= 0 for v in rep["timings"].values()), rep["timings"]


def test_description_change_conflicts_and_force_updates(spark, tmp_path_factory,
                                                        synth_ref):
    """Same sequence + new description: error without force
    (reference sonar.py:595-600), description updated with force."""
    ref, cds = synth_ref
    st = SonarStore(spark, str(tmp_path_factory.mktemp("desc")), ref, cds)
    mk = lambda desc: spark.createDataFrame(  # noqa: E731
        [("a1", desc, ref)],
        "accession string, description string, sequence string")
    st.add_fasta_df(mk("a1 v1"))
    with pytest.raises(ValueError, match="different"):
        st.add_fasta_df(mk("a1 CORRECTED"))
    st.add_fasta_df(mk("a1 CORRECTED"), force=True)
    rows = st.table("genomes").collect()
    assert len(rows) == 1 and rows[0]["description"] == "a1 CORRECTED"


def test_force_replace_garbage_collects_old_seqhash(spark, tmp_path_factory,
                                                    synth_ref):
    ref, cds = synth_ref
    st = SonarStore(spark, str(tmp_path_factory.mktemp("gc")), ref, cds)
    v1 = ref[:-30]
    v2 = ref[:-60]
    mk = lambda seq: spark.createDataFrame(  # noqa: E731
        [("a1", "a1", seq)],
        "accession string, description string, sequence string")
    st.add_fasta_df(mk(v1))
    assert st.table("sequences").count() == 1
    st.add_fasta_df(mk(v2), force=True)
    # the replaced sequence's rows were orphaned and collected
    assert st.table("sequences").count() == 1
    assert st.table("profiles").count() == 1


def test_update_metadata_rejects_duplicate_accessions(spark, synth_store):
    store = synth_store
    from pyspark.sql import functions as F

    upd = spark.createDataFrame(
        [("test1", "L9"), ("test1", "L8")], "accession string, lab string")
    with pytest.raises(ValueError, match="duplicate"):
        store.update_metadata(upd)


def test_one_sequence_under_two_accessions_stored_once(spark, tmp_path,
                                                       synth_ref):
    ref, cds = synth_ref
    st = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    rep = st.add_fasta_df(_records(spark, [("a1", "a1", ref),
                                           ("a2", "a2", ref)]))
    assert rep["new_sequences"] == 1 and rep["added_accessions"] == 2
    assert rep["paranoid_mismatches"] == []
    assert st.table("sequences").count() == 1
    assert st.table("profiles").count() == 1
    assert sorted(r["accession"] for r in st.table("genomes").collect()) \
        == ["a1", "a2"]


def test_non_iupac_record_is_reported_and_not_stored(spark, tmp_path,
                                                     synth_ref):
    """An aligner-rejected record lands in ``report["errors"]`` and gets
    no rows; the rest of the batch commits."""
    from covsonar_spark.functions.genetics import seguid

    ref, cds = synth_ref
    junk = ref[:100] + "JJ" + ref[102:]
    snp = ref[:100] + ("A" if ref[100] != "A" else "C") + ref[101:]
    st = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    rep = st.add_fasta_df(_records(spark, [("bad", "bad", junk),
                                           ("good", "good", snp)]))
    assert set(rep["errors"]) == {seguid(junk)}
    assert "non-IUPAC" in rep["errors"][seguid(junk)]
    assert rep["new_sequences"] == 1 and rep["paranoid_mismatches"] == []
    for t in ("sequences", "genomes", "profiles"):
        hashes = {r["seqhash"] for r in st.table(t).collect()}
        assert hashes == {seguid(snp)}, t
    assert [r["accession"] for r in st.table("genomes").collect()] == ["good"]


def test_unchanged_readd_keeps_updated_metadata(spark, tmp_path, synth_ref):
    ref, cds = synth_ref
    st = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    recs = _records(spark, [("a1", "a1", ref)])
    st.add_fasta_df(recs)
    st.update_metadata(spark.createDataFrame(
        [("a1", "B.1.1")], "accession string, lineage string"))
    rep = st.add_fasta_df(recs)
    assert rep["new_sequences"] == 0 and rep["added_accessions"] == 1
    rows = st.table("genomes").collect()
    assert [(r["accession"], r["lineage"]) for r in rows] == [("a1", "B.1.1")]


def test_readd_over_legacy_duplicate_rows_multiplies_nothing(spark, tmp_path,
                                                             synth_ref):
    """A store holding an accession twice (legacy layouts could) and a
    NULL description: the unchanged re-add stays a no-op, a changed
    sequence still conflicts, and no batch row multiplies."""
    ref, cds = synth_ref
    snp = ref[:100] + ("A" if ref[100] != "A" else "C") + ref[101:]
    st = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    st.add_fasta_df(_records(spark, [("a1", "a1", ref), ("n1", None, snp)]))
    with st._mutation_session():
        st._append("genomes", st.table("genomes").where("accession = 'a1'"))
    assert st.table("genomes").count() == 3
    rep = st.add_fasta_df(_records(spark, [("a1", "a1", ref), ("n1", None, snp),
                                           ("b1", "b1", snp)]))
    assert rep["added_accessions"] == 3 and rep["new_sequences"] == 0
    assert sorted(r["accession"] for r in st.table("genomes").collect()) \
        == ["a1", "a1", "b1", "n1"]
    with pytest.raises(ValueError, match="different"):
        st.add_fasta_df(_records(spark, [("a1", "a1", snp)]))


def test_rejected_add_leaves_no_cached_plan(spark, synth_store):
    """An add rejected by validation pins nothing in the CacheManager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    if not cm.isEmpty():
        spark.catalog.clearCache()
    a = "ACGT" * 100
    for rows, msg in (([("dup9", "v1", a), ("dup9", "v2", a + "A")],
                       "conflicting"),
                      ([("test1", "test1", a)], "different")):
        with pytest.raises(ValueError, match=msg):
            synth_store.add_fasta_df(_records(spark, rows))
    assert cm.isEmpty()


def test_paranoid_check_restores_stored_rows(spark, tmp_path, synth_ref):
    """paranoid_check returns exactly the accessions whose expected
    sequence differs from the one restored out of the stored variants,
    including a seqhash first stored by an earlier commit."""
    from covsonar_spark.functions.genetics import seguid
    from covsonar_spark.operators.restore import paranoid_check

    ref, cds = synth_ref
    snp = ref[:100] + ("A" if ref[100] != "A" else "C") + ref[101:]
    st = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    st.add_fasta_df(_records(spark, [("wt", "wt", ref), ("snp", "snp", snp)]))
    rep = st.add_fasta_df(_records(spark, [("snp2", "snp2", snp)]))
    # the second add derived nothing: snp's variant rows are the first
    # commit's
    assert rep["new_sequences"] == 0
    expected = spark.createDataFrame(
        [("wt", seguid(ref), ref),           # no variant rows: the reference
         ("snp", seguid(snp), ref),          # differs from its stored variants
         ("snp2", seguid(snp), snp),         # earlier commit's rows, reused
         ("snp3", seguid(snp), snp[:-1])],   # reused seqhash, wrong bytes
        "accession string, seqhash string, sequence string")
    assert sorted(paranoid_check(st, expected)) == ["snp", "snp3"]


def test_match_with_dates_survives_emptied_store(spark, tmp_path_factory,
                                                 covsonar):
    """Date-pruned match on a store whose genomes were all removed must
    return empty, not crash on the schemaless parquet dir."""
    from covsonar_spark.store import SonarStore

    _, _, ref = read_fasta_one(f"{covsonar.root}/lib/ref.fna")
    ref = harmonize(ref)
    cds = parse_gff3(f"{covsonar.root}/lib/ref.gff3", ref)
    st = SonarStore(spark, str(tmp_path_factory.mktemp("emptied")), ref, cds)
    st.add_fasta_df(spark.createDataFrame(
        [("a1", "a1", ref)],
        "accession string, description string, sequence string"))
    st.remove(["a1"])
    res = st.match(MatchQuery(dates=["2021-01-01:2021-12-31"]))
    assert res.count() == 0
