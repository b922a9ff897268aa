"""Lineage taxonomy build (T17/T18) — Aliasor unit tests, the Spark
self-join closure vs a hand-computed fixture, and consistency with the
reference's shipped lineage.all.tsv (A family, alias-free)."""

from __future__ import annotations

from covsonar_spark.operators.lineage import (Aliasor, build_sublineage_table,
                                              load_sublineage_map)
from tests.fixtures import needs_golden

REF_TSV = "/root/reference/lib/lineage.all.tsv"


def test_aliasor_roundtrip():
    al = Aliasor({"BA": "B.1.1.529", "A": "", "B": ""})
    assert al.uncompress("BA.5") == "B.1.1.529.5"
    assert al.compress("B.1.1.529.5") == "BA.5"
    assert al.uncompress("B.1.1.7") == "B.1.1.7"
    assert al.compress("B.1.1.7") == "B.1.1.7"
    assert al.uncompress("BA") == "BA"      # bare alias stays (reference quirk)
    assert al.compress("B.1.1.529.1") == "BA.1"
    # deeper than one indirection needs a second-level alias
    al2 = Aliasor({"BA": "B.1.1.529", "BE": "B.1.1.529.5.3.1"})
    assert al2.uncompress("BE.1") == "B.1.1.529.5.3.1.1"
    assert al2.compress("B.1.1.529.5.3.1.1") == "BE.1"


def test_closure_with_alias(spark):
    alias = {"C": "A.1.1.1", "A": ""}
    lineages = ["A", "A.1", "A.1.1", "A.1.1.1", "C.1"]
    rows = {r["lineage"]: r["sublineage"]
            for r in build_sublineage_table(spark, lineages, alias).collect()}
    assert rows == {
        "A": "A.1,A.1.1,A.1.1.1,C.1",
        "A.1": "A.1.1,A.1.1.1,C.1",
        "A.1.1": "A.1.1.1,C.1",
        "A.1.1.1": "C.1",
        "C.1": "none",
    }


@needs_golden(REF_TSV)
def test_closure_matches_reference_tsv_a_family(spark):
    want = {}
    with open(REF_TSV) as fh:
        fh.readline()
        for line in fh:
            lin, subs = line.rstrip("\n").split("\t")[:2]
            if lin == "A" or lin.startswith("A."):
                want[lin] = subs
    got = {r["lineage"]: r["sublineage"]
           for r in build_sublineage_table(spark, list(want)).collect()}
    assert got == want


@needs_golden(REF_TSV)
def test_load_sublineage_map():
    m = load_sublineage_map(REF_TSV)
    assert len(m) == 2183
    assert "A.1" in m and m["A.1"] == []
    assert "A.2.5.1" in m["A"] and "A.2.5.1" in m["A.2"] and "A.2.5.1" in m["A.2.5"]
