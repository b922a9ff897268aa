"""Shared covsonar-domain test fixtures: a 4-genome corpus modeled on the
reference's CI fixtures (FIXTURES.md §1/§3) without requiring the
alignment stage."""

from __future__ import annotations

import calendar
import csv
import datetime as dt
import gzip
import io
import lzma
import os
from dataclasses import dataclass
from pathlib import Path

import pytest

from covsonar_spark.schemas import GENOMES, PROFILES
from perfbench.synth import REF_LEN, Corpus, gff3_text


def _g(acc, seqhash, lineage=None, zip_=None, date=None, lab=None, source=None,
       collection=None, technology=None, platform=None, chemistry=None,
       material=None, software=None, software_version=None, ct=None,
       gisaid=None, ena=None, description=None):
    return {
        "accession": acc, "description": description or acc, "seqhash": seqhash,
        "lineage": lineage, "zip": zip_, "date": date, "submission_date": None,
        "gisaid": gisaid, "ena": ena, "source": source, "collection": collection,
        "lab": lab, "technology": technology, "platform": platform,
        "chemistry": chemistry, "material": material, "software": software,
        "software_version": software_version, "ct": ct,
        "imported": dt.datetime(2021, 2, 1, 12, 0, 0),
    }


GENOME_ROWS = [
    _g("NC_045512.2", "hash_ref", lineage="B", zip_="99999",
       date=dt.date(2019, 12, 30), source="GENBANK", lab="L1"),
    _g("test1", "hash_1", lineage="B.1.1.7", zip_="01778",
       date=dt.date(2021, 1, 12), lab="L1", source="DESH", collection="RANDOM",
       technology="ILLUMINA", platform="MISEQ", chemistry="FLEX",
       material="SWAP", software="COVPIPE", software_version="3.0.5", ct=22.5,
       gisaid="g1", ena="e1"),
    _g("test2", "hash_2", lineage="B.1.1.189", zip_="01777",
       date=dt.date(2021, 1, 24), lab="L2", source="DESH", collection="SUSPECT",
       technology="ILLUMINA", platform="MISEQ", chemistry="FLEX",
       material="SWAP", software="COVPIPE", software_version="3.0.5", ct=28.0,
       gisaid="g2", ena="e2"),
    _g("test3", "hash_3", lineage="B.1.177", zip_="10115",
       date=dt.date(2021, 2, 2), lab="L3", source="LAB", collection="RANDOM",
       technology="NANOPORE", platform="MINION", ct=19.0),
]

PROFILE_ROWS = [
    {"seqhash": "hash_ref", "dna_profile": [], "aa_profile": [], "fs_profile": []},
    {"seqhash": "hash_1",
     "dna_profile": ["C241T", "C3267T", "del:11288:9", "del:21765:6", "A23063T"],
     "aa_profile": ["ORF1a:T1001I", "S:del:68:3", "S:N501Y", "S:D614G"],
     "fs_profile": []},
    {"seqhash": "hash_2",
     "dna_profile": ["C241T", "G1820A", "del:21765:6", "A23403G"],
     "aa_profile": ["ORF1a:G519S", "S:D614G"],
     "fs_profile": []},
    {"seqhash": "hash_3",
     "dna_profile": ["C241T", "A23403G", "del:21765:5", "G29000W", "A29001N"],
     "aa_profile": ["S:D614G", "N:A35X"],
     "fs_profile": ["del:21765:5"]},
]

SUBLINEAGES = {
    "B.1.1": ["B.1.1.7", "B.1.1.189"],
    "B.1": ["B.1.1", "B.1.177"],
    "B": ["B.1"],
}


def essence_df(spark):
    from covsonar_spark.operators.match import build_essence

    genomes = spark.createDataFrame(GENOME_ROWS, GENOMES)
    profiles = spark.createDataFrame(PROFILE_ROWS, PROFILES)
    return build_essence(genomes, profiles)


# -- covsonar-layout assets ---------------------------------------------------
#
# The covsonar-domain tests replay covsonar's CI corpus (test.sh): its
# reference (lib/), its genomes, pangolin calls and metadata (test/).
# ``covsonar_assets`` returns covsonar's own checkout when it is present
# and otherwise writes a seeded bundle in the same file layout from the
# benchmark's generator (perfbench/synth.py).  Tests that assert a fact
# of the corpus (a token, a lineage, a date, a count) read it from the
# returned ``facts``: covsonar's literal on the checkout, and on the
# bundle a value computed from the generator's records and from the
# metadata rows the bundle wrote, never from engine output.

REFERENCE = "/root/reference"
REF_ID = "NC_045512.2"
BUNDLE_SEED = 8
MAX_DRAWS = 500

# the field mapping of covsonar's test.sh `update --tsv ... --fields`
TSV_FIELDS = {
    "accession": "accessions", "zip": "regions", "date": "dates",
    "gisaid": "gisaid", "ena": "ena", "lab": "lab", "source": "source",
    "collection": "collection", "technology": "technology",
    "platform": "platform", "chemistry": "chemistry", "material": "material",
    "ct": "ct", "software": "software", "software_version": "software_version",
}
# MatchQuery list filters -> genomes field
QUERY_LISTS = {"labs": "lab", "sources": "source", "collections": "collection",
               "technologies": "technology", "platforms": "platform",
               "chemistries": "chemistry", "materials": "material"}


@dataclass(frozen=True)
class CorpusFacts:
    only_test2_snp: str            # a SNP that test2 carries and no other genome
    test2_lacks_snp: str           # a SNP that test2 does not carry
    shared_snp: str                # a SNP that test1, test2 and test3 carry
    shared_site: tuple             # (1-based pos, ref, alt) of a second one
    lab_source: tuple              # test3's lab and source (one genome)
    record_lengths: dict           # test.fasta accession -> sequence length
    month: str                     # a date range of one month ...
    month_accessions: frozenset    # ... and the accessions dated within it
    parent_lineage: str            # no genome's lineage; test1's and test2's descend
    parent_accessions: frozenset   # the genomes under parent_lineage
    test1_lineage: str
    counts: tuple                  # ((MatchQuery kwargs, expected count), ...)
    info: dict                     # SonarStore.info() metadata aggregates


# covsonar's corpus, as its CI script and expected*.csv state it
REFERENCE_FACTS = CorpusFacts(
    only_test2_snp="G1820A",
    test2_lacks_snp="C1348T",
    shared_snp="C241T",
    shared_site=(23403, "A", "G"),
    lab_source=("l3", "sentinel"),
    record_lengths={"NC_045512.2": 29903, "test1": 29903, "test2": 29903},
    month="2021-01-01:2021-01-31",
    month_accessions=frozenset({"NC_045512.2", "test2"}),
    parent_lineage="B.1.1",
    parent_accessions=frozenset({"test1", "test2"}),
    test1_lineage="B.1.1.297",
    counts=(
        ({"labs": ["l3"], "sources": ["sentinel"]}, 1),
        ({"collections": ["random"], "technologies": ["Illumina"]}, 2),
        ({"zips": ["033"], "labs": ["l3"], "sources": ["sentinel"],
          "collections": ["RANDOM"], "technologies": ["illumina"],
          "platforms": ["nextseq"], "chemistries": ["flex", "cleanplex"],
          "materials": ["swap"], "min_ct": 30.0, "max_ct": 34.0,
          "software": "covpipe", "software_version": "3.0.5"}, 1),
        ({"min_ct": 10.0, "max_ct": 30.0}, 2),
    ),
    info={"labs": 3, "earliest_date": "2020-12-22",
          "latest_date": "2021-01-24", "n_lineage": 3, "n_ct": 3},
)


@dataclass(frozen=True)
class CovsonarAssets:
    root: str                      # holds lib/ and test/ in covsonar's layout
    facts: CorpusFacts


def needs_golden(path: str):
    """Skip a test whose assertion is covsonar's own golden file when
    that file is absent (no synthetic corpus can stand in for it)."""
    return pytest.mark.skipif(not os.path.exists(path),
                              reason=f"covsonar golden file {path} is absent")


def covsonar_assets(tmp_dir) -> CovsonarAssets:
    """covsonar's checkout when ``lib/ref.fna`` exists there, else a
    synthetic bundle written into ``tmp_dir``."""
    if os.path.exists(f"{REFERENCE}/lib/ref.fna"):
        return CovsonarAssets(REFERENCE, REFERENCE_FACTS)
    return write_bundle(tmp_dir)


# per-role metadata of the bundle's test.tsv.gz, in covsonar's mixed
# case; lab, zip and date come from the generator's genome records
ROLE_META = {
    REF_ID: {"gisaid": "", "ena": "", "source": "GenBank", "collection": "",
             "technology": "", "platform": "", "chemistry": "",
             "material": "", "ct": "", "software": "",
             "software_version": ""},
    "test1": {"gisaid": "g1", "ena": "e1", "source": "DESH",
              "collection": "random", "technology": "Illumina",
              "platform": "MiSeq", "chemistry": "FLEX", "material": "swap",
              "ct": "22.5", "software": "covPipe",
              "software_version": "3.0.5"},
    "test2": {"gisaid": "g2", "ena": "e2", "source": "DESH",
              "collection": "suspect", "technology": "Illumina",
              "platform": "MiSeq", "chemistry": "FLEX", "material": "swap",
              "ct": "28", "software": "covPipe",
              "software_version": "3.0.5"},
    "test3": {"gisaid": "g3", "ena": "e3", "source": "sentinel",
              "collection": "Random", "technology": "Illumina",
              "platform": "NextSeq", "chemistry": "cleanplex",
              "material": "swap", "ct": "32", "software": "covPipe",
              "software_version": "3.0.5"},
}
REF_DATE = dt.date(2019, 12, 30)


def _draw_roles():
    """Draw genomes in seed order until three of them can take
    covsonar's roles; returns (corpus, {role: Genome}, parent lineage).
    test1 and test2 carry no frameshift; test3 carries a frameshift, an
    N run and a net deletion; the parent lineage is a proper ancestor
    of test1's and test2's lineages and no ancestor of test3's."""
    corpus = Corpus(BUNDLE_SEED)
    drawn = []
    for _ in range(MAX_DRAWS):
        drawn += corpus.batch(1, reuse=0)
        seqs = [corpus.sequences[g.seqid] for g in drawn]
        plain = [g for g, s in zip(drawn, seqs) if not s.frameshift]
        shifted = [g for g, s in zip(drawn, seqs)
                   if s.frameshift and s.n_run and len(s.seq) < REF_LEN]
        # the first triple in draw order that holds every role
        for g3 in shifted:
            for j, g2 in enumerate(plain):
                for g1 in plain[:j]:
                    roles = {"test1": g1, "test2": g2, "test3": g3}
                    parent = _role_parent(corpus, roles)
                    if parent and _pick_snps(corpus, roles):
                        return corpus, roles, parent
    raise RuntimeError(f"seed {BUNDLE_SEED}: no covsonar roles in "
                       f"{MAX_DRAWS} draws")


def _role_parent(corpus, roles) -> str | None:
    """The deepest lineage other than the root that is a proper ancestor
    of test1's and test2's lineages and no ancestor of test3's."""
    a1, a2, a3 = (corpus.ancestry(roles[r].lineage)
                  for r in ("test1", "test2", "test3"))
    return next((p for p in a1[1:-1] if p in a2[1:] and p not in a3), None)


def _pick_snps(corpus, roles):
    """(a SNP only test2 carries, a SNP test1 carries and test2 lacks,
    two SNPs all three carry) as (pos0, alt), drawn from the SNPs the
    generator plants by name (lineage-defining SNPs and markers); None
    when the roles lack one."""
    planted = [(p, alt, {r for r, g in roles.items()
                         if name in corpus.ancestry(g.lineage)})
               for name, lin in corpus.lineages.items()
               for p, alt in lin.snps.items()]
    planted += [(p, alt, {r for r, g in roles.items()
                          if i in corpus.sequences[g.seqid].markers})
                for i, (p, alt) in enumerate(corpus.markers)]
    planted.sort(key=lambda t: t[0])
    only2 = [(p, a) for p, a, c in planted if c == {"test2"}]
    lacks2 = [(p, a) for p, a, c in planted if "test1" in c and "test2" not in c]
    shared = [(p, a) for p, a, c in planted if len(c) == 3]
    if only2 and lacks2 and len(shared) >= 2:
        return only2[0], lacks2[0], shared[:2]
    return None


def _holds(seq: str, ref: str, p: int, base: str, flank: int = 10,
           shift: int = 8) -> bool:
    """True when ``seq`` holds ``base`` at reference position ``p``: the
    reference window around ``p`` with ``base`` in the middle occurs in
    ``seq`` within ``shift`` bases of ``p`` (indels elsewhere shift the
    coordinates; each generator slot keeps its window clean)."""
    want = ref[p - flank:p] + base + ref[p + 1:p + flank + 1]
    return any(seq[p + d - flank:p + d + flank + 1] == want
               for d in range(-shift, shift + 1))


def _metadata_count(rows: list[dict], kw: dict) -> int:
    """A MatchQuery count over the metadata rows, as FIXTURES §1.3
    documents the filters: upper-cased categorical fields, zip
    prefixes, an inclusive ct range."""
    def ok(row):
        for key, field in QUERY_LISTS.items():
            if key in kw and (row[field] or "").upper() not in \
                    {v.upper() for v in kw[key]}:
                return False
        if "zips" in kw and not any((row["zip"] or "").startswith(z)
                                    for z in kw["zips"]):
            return False
        for key in ("software", "software_version"):
            if key in kw and (row[key] or "").upper() != kw[key].upper():
                return False
        if "min_ct" in kw or "max_ct" in kw:
            if not row["ct"]:
                return False
            ct = float(row["ct"])
            if not kw.get("min_ct", ct) <= ct <= kw.get("max_ct", ct):
                return False
        return True
    return sum(1 for r in rows if ok(r))


def bundle_corpus():
    """The bundle's records and facts, in pure Python: (reference,
    {accession: (header, sequence)}, metadata rows, pangolin rows,
    lineage TSV, facts).  Every fact is checked against the
    generator's records before it is returned."""
    corpus, roles, parent = _draw_roles()
    ref = corpus.ref
    seqs = {REF_ID: ref}
    records = {REF_ID: (REF_ID, ref)}
    for role, g in roles.items():
        seqs[role] = corpus.sequences[g.seqid].seq
        records[role] = (f"{role} {corpus.description(g)}", seqs[role])

    rows = [{"accession": REF_ID, "zip": "", "date": REF_DATE.isoformat(),
             "lab": "", **ROLE_META[REF_ID]}]
    for role, g in roles.items():
        rows.append({"accession": role, "zip": g.zip,
                     "date": g.date.isoformat(), "lab": g.lab.lower(),
                     **ROLE_META[role]})
    pangolin = [(records[role][0], g.lineage) for role, g in roles.items()]

    only2, lacks2, shared = _pick_snps(corpus, roles)

    def token(p, alt):
        return f"{ref[p]}{p + 1}{alt}"

    t1 = next(r for r in rows if r["accession"] == "test1")
    t3 = next(r for r in rows if r["accession"] == "test3")
    ct3 = float(t3["ct"])
    counts = tuple((kw, _metadata_count(rows, kw)) for kw in (
        {"labs": [t3["lab"]], "sources": [t3["source"]]},
        {"collections": [t1["collection"].lower()],
         "technologies": [t1["technology"]]},
        {"zips": [t3["zip"][:3]], "labs": [t3["lab"]],
         "sources": [t3["source"]], "collections": [t3["collection"].upper()],
         "technologies": [t3["technology"].lower()],
         "platforms": [t3["platform"].lower()],
         "chemistries": [t3["chemistry"].lower(), "flex"],
         "materials": [t3["material"]], "min_ct": ct3 - 2.0,
         "max_ct": ct3 + 2.0, "software": t3["software"].lower(),
         "software_version": t3["software_version"]},
        {"min_ct": 10.0, "max_ct": 30.0},
    ))
    d2 = roles["test2"].date
    month = (f"{d2.replace(day=1)}:"
             f"{d2.replace(day=calendar.monthrange(d2.year, d2.month)[1])}")
    dates = [dt.date.fromisoformat(r["date"]) for r in rows if r["date"]]
    under = frozenset(r for r, g in roles.items()
                      if parent in corpus.ancestry(g.lineage))
    facts = CorpusFacts(
        only_test2_snp=token(*only2),
        test2_lacks_snp=token(*lacks2),
        shared_snp=token(*shared[0]),
        shared_site=(shared[1][0] + 1, ref[shared[1][0]], shared[1][1]),
        lab_source=(t3["lab"], t3["source"]),
        record_lengths={a: len(seqs[a]) for a in (REF_ID, "test1", "test2")},
        month=month,
        month_accessions=frozenset(
            r["accession"] for r in rows if r["date"] and
            month[:10] <= r["date"] <= month[11:]),
        parent_lineage=parent,
        parent_accessions=under,
        test1_lineage=roles["test1"].lineage,
        counts=counts,
        info={"labs": len({r["lab"].upper() for r in rows if r["lab"]}),
              "earliest_date": str(min(dates)),
              "latest_date": str(max(dates)),
              "n_lineage": sum(1 for _, lin in pangolin if lin),
              "n_ct": sum(1 for r in rows if r["ct"])},
    )

    # guards: a fact that does not hold of the records, or a count that
    # selects nothing or everything, would let a test pass vacuously
    everyone = set(seqs)
    for (p, alt), alts, refs in (
            (only2, {"test2"}, everyone - {"test2"}),
            (lacks2, {"test1"}, {REF_ID, "test2"}),
            (shared[0], everyone - {REF_ID}, {REF_ID}),
            (shared[1], everyone - {REF_ID}, {REF_ID})):
        for acc in alts:
            assert _holds(seqs[acc], ref, p, alt), (token(p, alt), acc)
            assert not _holds(seqs[acc], ref, p, ref[p]), (token(p, alt), acc)
        for acc in refs:
            assert _holds(seqs[acc], ref, p, ref[p]), (token(p, alt), acc)
            assert not _holds(seqs[acc], ref, p, alt), (token(p, alt), acc)
    shifted = [r for r, g in roles.items()
               if corpus.sequences[g.seqid].frameshift]
    assert shifted == ["test3"], shifted
    s3 = corpus.sequences[roles["test3"].seqid]
    assert s3.n_run and "N" in s3.seq and len(s3.seq) < REF_LEN
    assert all(parent != g.lineage for g in roles.values())
    assert under == {"test1", "test2"}
    total = len(rows)
    for kw, n in counts:
        assert 1 <= n <= total - 1, (kw, n)
    for group in (facts.month_accessions, facts.parent_accessions):
        assert 1 <= len(group) <= total - 1, group
    assert counts[0][1] == 1 and "test2" in facts.month_accessions
    return ref, records, rows, pangolin, corpus.sublineage_tsv(), facts


def _fasta(records) -> str:
    """FASTA text with 70-column sequence lines, as NCBI writes it."""
    out = []
    for header, seq in records:
        out.append(f">{header}\n")
        out.extend(seq[i:i + 70] + "\n" for i in range(0, len(seq), 70))
    return "".join(out)


def write_bundle(root) -> CovsonarAssets:
    """Write the synthetic covsonar-layout bundle under ``root``:
    lib/ref.fna, lib/ref.gff3, lib/lineage.all.tsv, test/test.fasta
    (the reference, test1, test2), test/test2.fasta and its .xz
    (test3), test/test_pangolin.csv and test/test.tsv.gz."""
    ref, records, rows, pangolin, lineage_tsv, facts = bundle_corpus()
    root = Path(root)
    (root / "lib").mkdir(parents=True, exist_ok=True)
    (root / "test").mkdir(exist_ok=True)
    (root / "lib" / "ref.fna").write_text(_fasta([(REF_ID, ref)]))
    (root / "lib" / "ref.gff3").write_text(gff3_text(REF_ID))
    (root / "lib" / "lineage.all.tsv").write_text(lineage_tsv)
    (root / "test" / "test.fasta").write_text(
        _fasta(records[a] for a in (REF_ID, "test1", "test2")))
    test2 = _fasta([records["test3"]])
    (root / "test" / "test2.fasta").write_text(test2)
    with lzma.open(root / "test" / "test2.fasta.xz", "wt") as fh:
        fh.write(test2)

    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_ALL, lineterminator="\n")
    w.writerow(["Sequence name", "Lineage", "Probability",
                "Most common countries", "Number of taxa", "Date range",
                "Days since last sampling"])
    for name, lineage in pangolin:
        w.writerow([name, lineage, "1.0", "UK, Denmark, Turkey", "251",
                    "April-11, February-10", "45"])
    (root / "test" / "test_pangolin.csv").write_text(buf.getvalue(),
                                                     encoding="utf-8-sig")

    cols = list(TSV_FIELDS)
    with gzip.open(root / "test" / "test.tsv.gz", "wt") as fh:
        fh.write("\t".join(TSV_FIELDS[c] for c in cols) + "\n")
        for r in rows:
            fh.write("\t".join(r[c] for c in cols) + "\n")
    return CovsonarAssets(str(root), facts)
