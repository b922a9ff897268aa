"""FASTA source: splittable text-scan path vs per-file Python parser.

The splittable reader (lineSep="\\n>") is the 100 TB ingest path; these
tests pin it to the Python generator's output on the reference's own
fixtures (plain + gz + mixed-with-xz) and prove a single big plain file
actually fans out over multiple input splits.
"""

from __future__ import annotations

import gzip

import pytest

from covsonar_spark.sources.fasta import (iter_fasta_records, read_fasta,
                                          read_fasta_splittable)


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def _pyparse(paths):
    out = []
    for p in paths:
        out.extend(iter_fasta_records(p))
    return sorted(out)


def test_splittable_matches_python_parser(spark, covsonar):
    REF_DIR = covsonar.root
    paths = [f"{REF_DIR}/test/test.fasta", f"{REF_DIR}/test/test2.fasta"]
    assert _collect(read_fasta_splittable(spark, paths)) == _pyparse(paths)


def test_gz_and_mixed_xz_union(spark, tmp_path, covsonar):
    REF_DIR = covsonar.root
    gz = str(tmp_path / "test.fasta.gz")
    with open(f"{REF_DIR}/test/test.fasta", "rb") as src, \
            gzip.open(gz, "wb") as dst:
        dst.write(src.read())
    paths = [gz, f"{REF_DIR}/test/test2.fasta.xz"]
    want = _pyparse([f"{REF_DIR}/test/test.fasta",
                     f"{REF_DIR}/test/test2.fasta"])
    assert _collect(read_fasta(spark, paths)) == want


def test_giant_plain_file_splits(spark, tmp_path):
    big = str(tmp_path / "big.fasta")
    with open(big, "w") as fh:
        for i in range(2000):
            fh.write(f">acc{i} synthetic record {i}\n")
            fh.write("ACGT" * 75 + "\n" + "TTTT" * 75 + "\n")
    df = read_fasta(spark, big)
    n_splits = (
        spark.read.option("lineSep", "\n>").text(big)
        .rdd.getNumPartitions()
    )
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        df_small = read_fasta(spark, big)
        rows = {r["accession"]: r["sequence"] for r in df_small.collect()}
        split_n = (spark.read.option("lineSep", "\n>").text(big)
                   .rdd.getNumPartitions())
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert split_n > n_splits and split_n > 4  # the scan really split
    assert len(rows) == 2000
    assert rows["acc1999"] == "ACGT" * 75 + "TTTT" * 75
    assert _collect(df) == _collect(df_small) == _pyparse([big])
