"""FASTA Python Data Source (spark.read.format("fasta")): record
parity with the primary reader, and split-ownership correctness —
byte-range partitions must neither lose nor duplicate records."""

from __future__ import annotations

import pytest

from covsonar_spark.sources.fasta import read_fasta
from covsonar_spark.sources.fasta_datasource import register


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def test_matches_primary_reader(spark, covsonar):
    REF = covsonar.root
    df = spark.read.format("fasta").load(f"{REF}/test/test.fasta")
    got = {r["accession"]: (r["description"], r["sequence"])
           for r in df.collect()}
    want = {r["accession"]: (r["description"], r["sequence"])
            for r in read_fasta(spark, [f"{REF}/test/test.fasta"]).collect()}
    assert got == want and len(got) == 3


def test_split_ranges_partition_records_exactly(spark, tmp_path, covsonar):
    """A concatenated multi-record file read with tiny split ranges
    yields every record exactly once, and genuinely fans out."""
    src = open(f"{covsonar.root}/test/test.fasta").read()
    big = tmp_path / "big.fasta"
    with open(big, "w") as fh:
        for i in range(40):
            for block in src.strip().split("\n>"):
                block = block.lstrip(">")
                header, rest = block.split("\n", 1)
                acc = header.split(" ", 1)[0]
                fh.write(f">{acc}_copy{i} {header}\n{rest}\n")
    df = (spark.read.format("fasta").option("split_mb", "0.2")
          .load(str(big)))
    n_parts = df.rdd.getNumPartitions()
    rows = df.collect()
    accs = [r["accession"] for r in rows]
    assert n_parts > 4, "tiny split size must fan the file out"
    assert len(accs) == 120 and len(set(accs)) == 120
    lengths = covsonar.facts.record_lengths
    assert all(len(r["sequence"]) == lengths[r["accession"].rsplit("_copy", 1)[0]]
               for r in rows)


def test_gz_single_partition_round_trip(spark, tmp_path, covsonar):
    import gzip
    import shutil

    gz = tmp_path / "t.fasta.gz"
    with open(f"{covsonar.root}/test/test.fasta", "rb") as fi, gzip.open(gz, "wb") as fo:
        shutil.copyfileobj(fi, fo)
    df = spark.read.format("fasta").load(str(gz))
    assert {r["accession"] for r in df.collect()} == {
        "NC_045512.2", "test1", "test2"}


def test_write_format_round_trips(spark, tmp_path, covsonar):
    """df.write.format('fasta') shards records and the reader round
    -trips them byte-for-byte (S7 as a real output format)."""
    src = spark.read.format("fasta").load(f"{covsonar.root}/test/test.fasta")
    out = str(tmp_path / "restored")
    src.write.format("fasta").mode("overwrite").save(out)
    back = spark.read.format("fasta").load(out + "/*.fasta")
    a = {r["accession"]: (r["description"], r["sequence"])
         for r in src.collect()}
    b = {r["accession"]: (r["description"], r["sequence"])
         for r in back.collect()}
    assert a == b


def test_boundary_aligned_header_not_lost(spark, tmp_path, covsonar):
    """Regression: a record whose '>' begins exactly at a split
    boundary must be owned by the task that starts there (plain
    seek+readline positioning silently dropped it)."""
    src = open(f"{covsonar.root}/test/test.fasta", "rb").read()
    p = tmp_path / "b.fasta"
    p.write_bytes(src)
    second = src.index(b">", 1)          # byte offset of record 2's header
    df = (spark.read.format("fasta")
          .option("split_mb", second / 2 ** 20)   # boundary exactly there
          .load(str(p)))
    assert df.rdd.getNumPartitions() >= 2
    assert sorted(r["accession"] for r in df.collect()) == [
        "NC_045512.2", "test1", "test2"]


def test_empty_glob_raises_not_empty_df(spark):
    """A glob matching no files must error like the explicit-path
    branch does — not silently return an empty DataFrame."""
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as e:
        spark.read.format("fasta").load("/nonexistent/dir/*.fasta").count()
    assert "glob matched no files" in str(e.value)
