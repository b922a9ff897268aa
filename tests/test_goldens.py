"""Golden-profile tests against the reference's own fixtures (read-only
at /root/reference): the B.1.1.7 doctest profile, expected.csv /
expected3.csv corpus profiles, seqhashes.  Pure-Python pipeline — no
Spark needed (the Spark ingest wraps the same functions).  Each golden
test skips when its golden file is absent; the xz reader test runs on
the synthetic bundle then (tests/fixtures.py)."""

from __future__ import annotations

import csv

import pytest

from covsonar_spark.functions.genetics import (harmonize, parse_gff3,
                                               read_fasta_one, seguid)
from covsonar_spark.functions.tokens import AMBIG_AA, AMBIG_NT
from covsonar_spark.operators.variants import process_sequence
from tests.fixtures import needs_golden

REF_DIR = "/root/reference"

GOLD_B117_DNA = (
    "C3267T C5388A T6954C del:11288:9 del:21765:6 del:21991:3 A23063T "
    "C23271A C23604A C23709T T24506G G24914C C27972T G28048T A28111G "
    "G28280C A28281T T28282A C28977T"
)
GOLD_B117_PROT = (
    "ORF1a:T1001I ORF1a:A1708D ORF1a:I2230T ORF1a:del:3675:3 ORF1b:T1001I "
    "ORF1b:A1708D ORF1b:I2230T ORF1b:del:3675:3 S:del:68:3 S:del:143:2 "
    "S:N501Y S:A570D S:P681H S:T716I S:S982A S:D1118H ORF8:Q27* ORF8:R52I "
    "ORF8:Y73C N:D3L N:S235F"
)


@pytest.fixture(scope="module")
def refdata():
    _, _, ref = read_fasta_one(f"{REF_DIR}/lib/ref.fna")
    ref = harmonize(ref)
    cds = parse_gff3(f"{REF_DIR}/lib/ref.gff3", ref)
    return ref, cds


def read_multi_fasta(path):
    recs = []
    hdr, chunks = None, []
    with open(path) as fh:
        for line in fh:
            line = line.rstrip()
            if line.startswith(">"):
                if hdr:
                    recs.append((hdr.split(" ")[0], hdr, "".join(chunks)))
                hdr, chunks = line[1:], []
            elif line:
                chunks.append(line)
    if hdr:
        recs.append((hdr.split(" ")[0], hdr, "".join(chunks)))
    return recs


def drop_ambig(profile: str, ambig: frozenset[str]) -> str:
    """The match-time output filter (what expected.csv reflects)."""
    out = []
    for tok in profile.split(" "):
        if not tok:
            continue
        last = tok[-1]
        if last.isupper() and last in ambig:
            continue
        out.append(tok)
    return " ".join(out)


@needs_golden(f"{REF_DIR}/lib/doctest_b117.fna")
def test_b117_golden(refdata):
    ref, cds = refdata
    _, _, seq = read_fasta_one(f"{REF_DIR}/lib/doctest_b117.fna")
    res = process_sequence(harmonize(seq), ref, cds)
    assert res["dna_profile"] == GOLD_B117_DNA
    assert res["prot_profile"] == GOLD_B117_PROT
    assert res["fs_profile"] == ""


@needs_golden(f"{REF_DIR}/test/expected.csv")
def test_expected_csv_corpus(refdata):
    ref, cds = refdata
    exp = {r["accession"]: r
           for r in csv.DictReader(open(f"{REF_DIR}/test/expected.csv"))}
    for acc, _, seq in read_multi_fasta(f"{REF_DIR}/test/test.fasta"):
        seq = harmonize(seq)
        res = process_sequence(seq, ref, cds)
        e = exp[acc]
        assert seguid(seq) == e["seqhash"], acc
        assert drop_ambig(res["dna_profile"], AMBIG_NT) == e["dna_profile"].strip(), acc
        assert drop_ambig(res["prot_profile"], AMBIG_AA) == e["aa_profile"].strip(), acc
        assert res["fs_profile"] == e["fs_profile"].strip(), acc


@needs_golden(f"{REF_DIR}/test/expected3.csv")
def test_expected3_csv_ambig_corpus(refdata):
    ref, cds = refdata
    row = next(csv.DictReader(open(f"{REF_DIR}/test/expected3.csv")))
    _, _, seq = read_fasta_one(f"{REF_DIR}/test/test2.fasta")
    seq = harmonize(seq)
    res = process_sequence(seq, ref, cds)
    assert seguid(seq) == row["seqhash"]
    assert res["dna_profile"] == row["dna_profile"].strip()
    assert res["prot_profile"] == row["aa_profile"].strip()
    assert res["fs_profile"] == row["fs_profile"].strip()


def test_xz_fasta_reader(covsonar):
    _, _, plain = read_fasta_one(f"{covsonar.root}/test/test2.fasta")
    _, _, xz = read_fasta_one(f"{covsonar.root}/test/test2.fasta.xz")
    assert plain == xz
