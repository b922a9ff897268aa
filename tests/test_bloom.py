"""Bloom-fingerprint prefilter (SURVEY §4 rewrite (a)): losslessness,
store integration, and plan shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covsonar_spark.operators import predicates as P
from covsonar_spark.operators.match import (MatchEngine, MatchQuery,
                                            profile_bloom_prefilter)

from tests.fixtures import SUBLINEAGES, essence_df


def test_spark_bloom_equals_driver_mask(spark):
    """token_bloom (executor expr) and bloom_mask (driver hash) must
    agree bit-for-bit — the whole scheme rests on it."""
    toks = ["C241T", "del:21765:6", "S:N501Y", "A3451TGAT", "ORF1b:P314L"]
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(P.token_bloom("toks").alias("b")).first()["b"]
    assert got == P.bloom_mask(toks)
    # single-token blooms OR together into the set bloom
    singles = 0
    for t in toks:
        singles |= df.select(P.token_bloom(F.array(F.lit(t))).alias("b")).first()["b"]
        singles = singles - (1 << 64) if singles >= (1 << 63) else singles
    assert singles == got


def test_prefilter_is_necessary_condition(spark):
    """Every row the exact AND-predicate accepts must pass the bloom
    prefilter (no false negatives, by construction)."""
    rows = [(i, [f"tok{i}", f"tok{i+1}", "shared"]) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, toks array<string>") \
        .withColumn("dna_bloom", P.token_bloom("toks"))
    for query in (["shared"], ["tok7", "tok8"], ["tok3", "shared"]):
        exact = {r["id"] for r in df.where(
            P.and_all([F.array_contains("toks", t) for t in query])).collect()}
        pre = {r["id"] for r in df.where(
            P.bloom_prefilter("dna_bloom", query)).collect()}
        assert exact <= pre


def test_match_with_bloom_equals_match_without(spark):
    """End-to-end losslessness on the reference corpus shape: the same
    MatchQuery over essence WITH stored blooms and essence WITHOUT them
    returns identical accession sets, for AND groups, IUPAC-expanded
    atoms, wildcard-OR groups, and mixed dna+aa groups."""
    base = essence_df(spark)          # no bloom columns -> exact path only
    with_bloom = base.withColumn("dna_bloom", P.token_bloom("dna_profile")) \
                     .withColumn("aa_bloom", P.token_bloom("aa_profile"))
    queries = [
        MatchQuery(profiles=[["C241T", "del:21765:6"]]),
        MatchQuery(profiles=[["S:N501Y"]]),
        MatchQuery(profiles=[["C241T"], ["S:D614G"]]),          # OR groups
        MatchQuery(profiles=[["A3451W"]]),                       # IUPAC expand
        MatchQuery(profiles=[["S:E484X"]]),                      # X any-change
        MatchQuery(profiles=[["C241T", "S:N501Y"]]),             # dna + aa
        MatchQuery(profiles=[["C241T"]], exclude_profiles=[["S:E484K"]]),
    ]
    for q in queries:
        a = sorted(r["accession"] for r in
                   MatchEngine(base, SUBLINEAGES).run(q).select("accession").collect())
        b = sorted(r["accession"] for r in
                   MatchEngine(with_bloom, SUBLINEAGES).run(q).select("accession").collect())
        assert a == b, q


def test_prefilter_skipped_when_no_usable_mask():
    # a group that is pure wildcard-OR still yields an any-bit mask;
    # an empty group list yields None
    assert profile_bloom_prefilter([]) is None
    assert profile_bloom_prefilter([{"dna": [], "aa": []}]) is None


def test_store_persists_blooms_and_match_uses_them(spark, tmp_path, covsonar):
    """Ingest writes real fingerprints; the match plan contains the
    bitmask test (bloom columns read from parquet, not recomputed)."""
    from covsonar_spark.functions.genetics import (harmonize, parse_gff3,
                                                   read_fasta_one)
    from covsonar_spark.sources.fasta import read_fasta
    from covsonar_spark.store import SonarStore

    REF = covsonar.root
    _, _, ref = read_fasta_one(f"{REF}/lib/ref.fna")
    ref = harmonize(ref)
    cds = parse_gff3(f"{REF}/lib/ref.gff3", ref)
    store = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    store.add_fasta_df(read_fasta(spark, [f"{REF}/test/test.fasta"]))
    profs = store.table("profiles")
    assert "dna_bloom" in profs.columns
    rows = profs.select("dna_profile", "dna_bloom").collect()
    assert rows
    for r in rows:
        assert r["dna_bloom"] == P.bloom_mask(r["dna_profile"])
    q = MatchQuery(profiles=[[covsonar.facts.shared_snp]])
    plan = store.match(q)._jdf.queryExecution() \
        .explainString(spark._jvm.org.apache.spark.sql.execution.ExplainMode
                       .fromString("formatted"))
    assert "dna_bloom" in plan
