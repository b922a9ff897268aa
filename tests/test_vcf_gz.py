"""BGZF-compressed VCF output (sources/bgzf.py + the .gz paths of the
VCF sinks): decompressed bytes identical to the plain writer, valid
BGZF block structure (BC subfield, EOF marker), stdlib-gzip readable —
the reference's bgzip deliverable (lib/sonartoVCF.py:129-144) without
external tools."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from covsonar_spark.sources.bgzf import (BGZF_EOF, MAX_BLOCK_DATA,
                                         bgzf_text_writer, iter_blocks)


def _synthetic_calls(spark, n_samples, n_pos=6):
    s = spark.range(n_samples).select(
        F.format_string("SAMP%05d", F.col("id")).alias("accession"),
        F.col("id"))
    p = spark.range(n_pos).select((F.col("id") * 7 + 11).alias("pos"),
                                  F.col("id").alias("pidx"))
    return (s.crossJoin(p)
            .where((F.col("id") + F.col("pidx")) % 2 == 0)
            .select("accession", "pos", F.lit("A").alias("ref"),
                    F.when(F.col("id") % 3 == 0, "T")
                     .when(F.col("id") % 3 == 1, "G")
                     .otherwise("C").alias("alt")))


def test_bgzf_writer_roundtrip_and_structure(tmp_path):
    """Multi-block payload: gzip round-trips the bytes, every block is
    a well-formed BGZF member, the file ends with the EOF marker."""
    path = str(tmp_path / "x.gz")
    payload = "".join(f"line {i} {'x' * 50}\n" for i in range(4000))
    assert len(payload) > 2 * MAX_BLOCK_DATA       # forces >2 blocks
    with bgzf_text_writer(path) as fh:
        fh.write(payload)
    assert gzip.open(path, "rt").read() == payload
    blocks = list(iter_blocks(path))
    assert len(blocks) >= 4                        # data blocks + EOF
    assert blocks[-1] == (28, 0)                   # EOF marker block
    assert sum(isize for _b, isize in blocks) == len(payload.encode())
    raw = open(path, "rb").read()
    assert raw.endswith(BGZF_EOF)


def test_write_vcf_gz_matches_plain_driver_and_distributed(spark, tmp_path):
    """Both merged-writer paths: the .gz output decompresses to exactly
    the plain writer's bytes."""
    from covsonar_spark.operators.vcf import site_table, write_vcf

    calls = _synthetic_calls(spark, 40)
    sites = site_table(calls)
    for mode in ("driver", "distributed"):
        plain = str(tmp_path / f"{mode}.vcf")
        gz = str(tmp_path / f"{mode}.vcf.gz")
        write_vcf(sites, calls, plain, mode=mode)
        write_vcf(sites, calls, gz, mode=mode)
        assert gzip.open(gz, "rt").read() == open(plain).read()
        assert list(iter_blocks(gz))[-1] == (28, 0)


def test_write_sample_vcfs_compressed(spark, tmp_path):
    from covsonar_spark.operators.vcf import write_sample_vcfs

    calls = _synthetic_calls(spark, 4)
    d_plain, d_gz = str(tmp_path / "plain"), str(tmp_path / "gz")
    assert write_sample_vcfs(calls, d_plain) == 4
    assert write_sample_vcfs(calls, d_gz, compress=True) == 4
    for acc_dir in sorted(os.listdir(d_gz)):
        if not acc_dir.startswith("accession="):
            continue
        acc = acc_dir.split("=", 1)[1]
        gz = os.path.join(d_gz, acc_dir, f"{acc}.vcf.gz")
        plain = os.path.join(d_plain, acc_dir, f"{acc}.vcf")
        assert gzip.open(gz, "rt").read() == open(plain).read()


def test_tabix_index_structure_and_region_fetch(spark, tmp_path):
    """The written .tbi parses back with the VCF preset header, its
    virtual offsets actually SEEK (fetch_region through the index
    returns exactly the grep-equivalent record set), and pysam accepts
    it when available."""
    from covsonar_spark.operators.vcf import site_table, write_vcf
    from covsonar_spark.sources.tabix import (build_tabix_index,
                                              fetch_region,
                                              read_tabix_index)

    # enough samples x positions that the VCF spans multiple BGZF
    # blocks, exercising cross-block virtual offsets
    calls = _synthetic_calls(spark, 400, n_pos=40)
    gz = str(tmp_path / "m.vcf.gz")
    sites = site_table(calls)
    write_vcf(sites, calls, gz, mode="distributed")
    tbi = build_tabix_index(gz)
    assert tbi == gz + ".tbi" and os.path.exists(tbi)

    idx = read_tabix_index(tbi)
    assert idx["format"] == 2 and idx["cols"] == (1, 2, 0)
    assert idx["meta"] == ord("#") and idx["names"] == ["NC_045512.2"]
    ref = idx["refs"][0]
    assert 37450 in ref["bins"]                    # htslib pseudo-bin
    n_rec = ref["bins"][37450][1][0]               # stats chunk: count
    data_lines = [ln for ln in gzip.open(gz, "rt").read().splitlines()
                  if not ln.startswith("#")]
    assert n_rec == len(data_lines)

    # region semantics vs a full scan, several windows incl. empty
    for beg, end in ((0, 50), (100, 200), (250, 260), (5000, 6000)):
        expect = sorted(
            ln for ln in data_lines
            if int(ln.split("\t", 2)[1]) - 1 < end
            and int(ln.split("\t", 2)[1]) - 1 +
            max(len(ln.split("\t", 4)[3]), 1) > beg)
        got = [ln.decode() for ln in
               fetch_region(gz, tbi, "NC_045512.2", beg, end)]
        assert sorted(got) == expect, (beg, end)

    try:                                           # not in this container;
        import pysam                               # runs where available
    except ImportError:
        pass
    else:
        tf = pysam.TabixFile(gz, index=tbi)
        assert len(list(tf.fetch("NC_045512.2", 100, 200))) == len(
            fetch_region(gz, tbi, "NC_045512.2", 100, 200))


def test_export_vcf_gz_emits_tbi(spark, tmp_path, covsonar):
    """export_vcf on a real ingested store writes the .tbi sidecar next
    to the .gz deliverable (reference tabix parity)."""
    from covsonar_spark.functions.genetics import (harmonize, parse_gff3,
                                                   read_fasta_one)
    from covsonar_spark.operators.vcf import export_vcf
    from covsonar_spark.sources.fasta import read_fasta
    from covsonar_spark.sources.tabix import fetch_region, read_tabix_index
    from covsonar_spark.store import SonarStore

    REF = covsonar.root
    _, _, ref = read_fasta_one(f"{REF}/lib/ref.fna")
    ref = harmonize(ref)
    cds = parse_gff3(f"{REF}/lib/ref.gff3", ref)
    st = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    st.add_fasta_df(read_fasta(spark, [f"{REF}/test/test.fasta"]))
    gz = str(tmp_path / "out.vcf.gz")
    export_vcf(st, gz)
    assert os.path.exists(gz + ".tbi")
    idx = read_tabix_index(gz + ".tbi")
    assert idx["names"] == ["NC_045512.2"]
    # every stored data line is reachable through the index
    data = [ln for ln in gzip.open(gz, "rt").read().splitlines()
            if not ln.startswith("#")]
    got = fetch_region(gz, gz + ".tbi", "NC_045512.2", 0, 30000)
    assert len(got) == len(data) and data
