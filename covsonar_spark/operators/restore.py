"""Genome reconstruction (T13) and the paranoid round-trip check (T15).

Reference semantics (lib/sonardb.py:3490-3549): start with the reference
sequence, substitute ``alt`` at each variant start (SNP replaces the
base, deletion rows blank single bases, insertion rows replace the
anchor with anchor+insert, a start of −1 contributes a prefix), with a
consistency check that each stored ``ref`` matches the reference base.

Spark shape: variants are collected per seqhash (one shuffle) and the
substitution runs in an Arrow-batched UDF against the broadcast
reference — one output row per distinct sequence, then a join fans
results out to accessions.  The reference restores one accession per
CLI call; this restores the whole corpus in one job.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RESTORE_SCHEMA = T.StructType([
    T.StructField("seqhash", T.StringType(), False),
    T.StructField("sequence", T.StringType(), False),
])


def apply_variants(ref_seq: str, variants: list[dict]) -> str:
    """Apply (start, ref, alt) substitutions to the reference."""
    prefix = ""
    out = list(ref_seq)
    for v in variants:
        s = v["start"]
        if s is None:
            continue
        if s >= 0:
            if v["ref"] != ref_seq[s]:
                raise ValueError(
                    f"data inconsistency: {v['ref']} expected at reference "
                    f"position {s + 1}, found {ref_seq[s]}")
            out[s] = v["alt"]
        else:
            prefix = v["alt"]
    return prefix + "".join(out)


def restored_sequences(dna_variants: DataFrame, seqhashes: DataFrame,
                       ref_seq: str) -> DataFrame:
    """(seqhash) → (seqhash, restored sequence) for every requested
    seqhash, including variant-free ones (≡ reference)."""
    grouped = (
        dna_variants.join(seqhashes, "seqhash", "left_semi")
        .groupBy("seqhash")
        .agg(F.collect_list(F.struct("start", "ref", "alt")).alias("vars"))
    )
    with_empty = seqhashes.join(grouped, "seqhash", "left")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seqhash, vars_ in zip(pdf["seqhash"], pdf["vars"]):
                if vars_ is None or len(vars_) == 0:
                    rows.append((seqhash, ref_seq))
                else:
                    rows.append((seqhash, apply_variants(ref_seq, list(vars_))))
            yield pd.DataFrame(rows, columns=["seqhash", "sequence"])

    return with_empty.mapInPandas(run, RESTORE_SCHEMA)


def restore_genomes(store, accessions: list[str] | None = None) -> DataFrame:
    """S7 FASTA-restore: (accession, description, sequence) for the
    requested accessions (all when None)."""
    genomes = store.table("genomes").select("accession", "description", "seqhash")
    if accessions:
        genomes = genomes.where(F.col("accession").isin(accessions))
    hashes = genomes.select("seqhash").distinct()
    seqs = restored_sequences(store.table("dna_variants"), hashes, store.ref_seq)
    return genomes.join(seqs, "seqhash").select("accession", "description", "sequence")


def to_fasta_lines(restored: DataFrame, width: int = 0) -> DataFrame:
    """FASTA sink rows: one text column (header + sequence per record)."""
    seq = F.col("sequence")
    if width:
        seq = F.concat_ws("\n", F.expr(
            f"transform(sequence(1, int(ceil(length(sequence)/{width}))), "
            f"i -> substr(sequence, (i-1)*{width}+1, {width}))"))
    return restored.select(
        F.concat(F.lit(">"), F.col("description"), F.lit("\n"), seq).alias("text"))


def apply_variants_aligned(ref_seq: str, variants: list[dict]) -> tuple[str, str]:
    """T14 — rebuild the aligned (query, reference) pair from stored
    variants (reference restore_alignment, lib/sonardb.py:3619-3682):
    deletions become '-' in the query, insertions pad the reference
    with '-', a start of −1 prefixes both."""
    refs = list(ref_seq)
    qrys = refs[:]
    prefix_q, prefix_r = "", ""
    for v in variants:
        s = v["start"]
        if s is None:
            continue
        if s >= 0:
            if v["ref"] != ref_seq[s]:
                raise ValueError(
                    f"data inconsistency: {v['ref']} expected at reference "
                    f"position {s + 1}, found {ref_seq[s]}")
            qrys[s] = "-" if not v["alt"] else v["alt"]
            if len(v["alt"]) > 1:
                refs[s] += "-" * (len(v["alt"]) - 1)
        else:
            prefix_q = v["alt"]
            prefix_r = "-" * len(v["alt"])
    return prefix_q + "".join(qrys), prefix_r + "".join(refs)


def restore_alignments(store, accessions: list[str] | None = None) -> DataFrame:
    """(accession, qry_aligned, ref_aligned) per requested accession —
    the batch form of the reference's per-accession restore_alignment."""
    genomes = store.table("genomes").select("accession", "seqhash")
    if accessions:
        genomes = genomes.where(F.col("accession").isin(accessions))
    hashes = genomes.select("seqhash").distinct()
    ref_seq = store.ref_seq
    grouped = (
        store.table("dna_variants").join(hashes, "seqhash", "left_semi")
        .groupBy("seqhash")
        .agg(F.collect_list(F.struct("start", "ref", "alt")).alias("vars"))
    )
    with_empty = hashes.join(grouped, "seqhash", "left")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seqhash, vars_ in zip(pdf["seqhash"], pdf["vars"]):
                if vars_ is None or len(vars_) == 0:
                    rows.append((seqhash, ref_seq, ref_seq))
                else:
                    q, r = apply_variants_aligned(ref_seq, list(vars_))
                    rows.append((seqhash, q, r))
            yield pd.DataFrame(rows, columns=["seqhash", "qry_aligned", "ref_aligned"])

    schema = "seqhash string, qry_aligned string, ref_aligned string"
    return genomes.join(with_empty.mapInPandas(run, schema), "seqhash") \
                  .select("accession", "qry_aligned", "ref_aligned")


def paranoid_check(store, expected: DataFrame) -> list[str]:
    """T15: restore every (accession, seqhash, sequence) from the stored
    variant rows and byte-compare — returns mismatching accessions
    (reference be_paranoid, lib/sonardb.py:3684-3819, as one cogroup).

    The expected rows and the stored ``dna_variants`` rows of their
    seqhashes meet in one cogroup on seqhash: each group restores its
    sequence once (no variant rows → the reference) and compares every
    accession of the group against it.  The stored rows are read through
    ``store.table``, so inside an open mutation session they include the
    rows staged moments earlier."""
    ref_seq = store.ref_seq
    want = expected.select("accession", "seqhash", "sequence")
    stored = store.table("dna_variants").select("seqhash", "start", "ref", "alt") \
        .join(want.select("seqhash"), "seqhash", "left_semi")

    def check(rows: pd.DataFrame, variants: pd.DataFrame) -> pd.DataFrame:
        restored = apply_variants(ref_seq, variants.to_dict("records")) \
            if len(variants) else ref_seq
        return rows.loc[rows["sequence"] != restored, ["accession"]]

    bad = want.groupBy("seqhash").cogroup(stored.groupBy("seqhash")) \
        .applyInPandas(check, "accession string")
    return [r["accession"] for r in bad.collect()]
