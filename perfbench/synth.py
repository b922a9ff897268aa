"""Seeded synthetic inputs for the benchmark, with an exact oracle.

Everything here is pure Python and independent of the engine: the
reference, its GFF3 annotation, the lineage tree, every genome and its
metadata are generated from one seed, and the expected answer of every
screen is computed from the generator's own records.

Layout of the reference (29,903 bp, the NC_045512.2 length): random
bases, with six CDS at the NC_045512.2 coordinates (ORF1ab with its
ribosomal-slippage exon pair, S, ORF3a, E, M, N).  Each CDS starts with
ATG, ends with a stop codon and has no internal stop, so protein
profiles are non-empty.

Every mutation sits in its own 60-bp slot (slots start 300 bp in and
end 300 bp before the end), so SNPs, indels and N runs never touch:
  * marker slots hold the planted marker SNPs, carried by a seeded
    subset of sequences at a fixed selectivity;
  * lineage slots hold the SNPs that define each lineage of the tree;
  * the remaining slots take each genome's private SNPs, indels and
    N run.  Frameshift indels (1-2 bp) sit inside a CDS; in-frame
    indels are 3 or 6 bp.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

REF_LEN = 29_903
# 1-based inclusive GFF3 coordinates of NC_045512.2's CDS
GENES = (
    ("ORF1ab", ((266, 13468), (13468, 21555))),
    ("S", ((21563, 25384),)),
    ("ORF3a", ((25393, 26220),)),
    ("E", ((26245, 26472),)),
    ("M", ((26523, 27191),)),
    ("N", ((28274, 29533),)),
)
STOPS = frozenset(("TAA", "TAG", "TGA"))
SLOT = 60
MARGIN = 300
# marker selectivities: the share of distinct sequences carrying each
MARKER_SHARES = (0.01, 0.05, 0.2, 0.5, 0.01, 0.05, 0.2, 0.5)
LINEAGE_SNPS = 4
N_LINEAGES = 14
LABS = tuple(f"LAB{i}" for i in range(1, 7))
ZIP_PREFIXES = ("01", "04", "10", "20", "50", "80")
DATE0 = dt.date(2021, 1, 1)
N_DAYS = 365


def _coding_positions(coords) -> list[int]:
    out: list[int] = []
    for s, e in coords:
        out.extend(range(s - 1, e))
    return out


def make_reference(rng: random.Random) -> str:
    """A random reference whose CDS translate without internal stops."""
    seq = [rng.choice("ACGT") for _ in range(REF_LEN)]
    for _name, coords in GENES:
        pos = _coding_positions(coords)
        codons = [pos[i:i + 3] for i in range(0, len(pos), 3)]
        for p, b in zip(codons[0], "ATG"):
            seq[p] = b
        for p, b in zip(codons[-1], "TAA"):
            seq[p] = b
        # a fix can only touch the slippage base shared by two codons,
        # so iterate until the whole CDS is clean
        dirty = True
        while dirty:
            dirty = False
            for c in codons[1:-1]:
                if "".join(seq[p] for p in c) in STOPS:
                    seq[c[0]] = "C"      # every stop codon starts with T
                    dirty = True
    return "".join(seq)


def gff3_text(ref_id: str = "NC_045512.2") -> str:
    lines = ["##gff-version 3"]
    for name, coords in GENES:
        for s, e in coords:
            lines.append("\t".join((
                ref_id, "synthetic", "CDS", str(s), str(e), ".", "+", "0",
                f"ID=cds-{name};gene={name};locus_tag=GU280_{name}")))
    return "\n".join(lines) + "\n"


def _cds_interior(pos0: int, pad: int = 30) -> bool:
    """True when [pos0-pad, pos0+pad) lies inside one CDS, clear of the
    ORF1ab slippage site."""
    for _name, coords in GENES:
        for s, e in coords:
            if s - 1 + pad <= pos0 and pos0 + pad <= e - pad:
                return abs(pos0 - 13467) > 2 * pad
    return False


def _edge_clear(pos0: int, pad: int = 30) -> bool:
    """True when pos0 is more than ``pad`` bases from every CDS edge, so
    a short indel there is wholly inside or wholly outside each CDS."""
    return all(abs(pos0 - b) > pad
               for _name, coords in GENES for s, e in coords for b in (s - 1, e))


@dataclass
class Lineage:
    name: str
    parent: str | None
    snps: dict[int, str]                 # 0-based pos -> alt base


@dataclass
class Genome:
    accession: str
    seqid: int                           # index of its distinct sequence
    lineage: str
    date: dt.date
    zip: str
    lab: str


@dataclass
class Sequence:
    seq: str
    lineage: str
    markers: frozenset[int]              # indices into Corpus.markers
    frameshift: bool
    n_run: bool


@dataclass
class Corpus:
    """The generator's state: reference, lineage tree, markers, and
    every sequence and genome issued so far (the oracle's ground truth)."""

    seed: int
    ref: str = ""
    lineages: dict[str, Lineage] = field(default_factory=dict)
    markers: list[tuple[int, str]] = field(default_factory=list)  # (pos0, alt)
    free_slots: list[int] = field(default_factory=list)
    sequences: list[Sequence] = field(default_factory=list)
    genomes: list[Genome] = field(default_factory=list)

    def __post_init__(self):
        rng = random.Random(self.seed)
        self.rng = rng
        self.ref = make_reference(rng)
        slots = list(range(MARGIN // SLOT, (REF_LEN - MARGIN) // SLOT))
        rng.shuffle(slots)
        for _ in MARKER_SHARES:
            p = slots.pop() * SLOT + SLOT // 2
            self.markers.append((p, self._alt(p)))
        names = ["B"]
        self.lineages["B"] = Lineage("B", None, self._snps(slots))
        while len(names) < N_LINEAGES:
            parent = rng.choice(names)
            kids = sum(1 for x in self.lineages.values() if x.parent == parent)
            name = f"{parent}.{kids + 1}"
            names.append(name)
            self.lineages[name] = Lineage(name, parent, self._snps(slots))
        self.free_slots = slots

    # -- generation ------------------------------------------------------

    def _alt(self, pos0: int) -> str:
        return self.rng.choice([b for b in "ACGT" if b != self.ref[pos0]])

    def _snps(self, slots: list[int]) -> dict[int, str]:
        out = {}
        for _ in range(LINEAGE_SNPS):
            p = slots.pop() * SLOT + SLOT // 2
            out[p] = self._alt(p)
        return out

    def ancestry(self, name: str) -> list[str]:
        out = []
        while name is not None:
            out.append(name)
            name = self.lineages[name].parent
        return out

    def sublineage_tsv(self) -> str:
        """lineage.tsv: every lineage with its transitive sublineages."""
        rows = ["lineage\tsublineage"]
        for name in self.lineages:
            subs = sorted(self.descendants(name) - {name})
            rows.append(f"{name}\t{','.join(subs) if subs else 'none'}")
        return "\n".join(rows) + "\n"

    def descendants(self, name: str) -> set[str]:
        return {x for x in self.lineages if name in self.ancestry(x)}

    def _new_sequence(self) -> int:
        rng = self.rng
        lin = rng.choice(list(self.lineages))
        subs: dict[int, str] = {}
        for a in self.ancestry(lin):
            subs.update(self.lineages[a].snps)
        carried = frozenset(i for i, share in enumerate(MARKER_SHARES)
                            if rng.random() < share)
        for i in carried:
            p, alt = self.markers[i]
            subs[p] = alt
        slots = rng.sample(self.free_slots, 14)
        for s in slots[:10]:                              # private SNPs
            p = s * SLOT + rng.randrange(10, SLOT - 10)
            subs[p] = self._alt(p)
        seq = list(self.ref)
        for p, alt in subs.items():
            seq[p] = alt
        n_run = rng.random() < 0.3
        if n_run:
            p = slots[10] * SLOT + 20
            for i in range(p, p + rng.randint(5, 20)):
                seq[i] = "N"
        # indels: one frameshift (1-2 bp, inside a CDS) in ~30% of
        # sequences, plus an in-frame indel clear of every CDS edge;
        # applied right to left so earlier offsets stay valid
        frameshift = False
        edits = []
        spare = [s * SLOT + SLOT // 2 for s in slots[11:]]
        interior = [p for p in spare if _cds_interior(p)]
        if interior and rng.random() < 0.3:
            frameshift = True
            edits.append((interior[0], rng.choice((-1, -2, 1))))
            spare.remove(interior[0])
        clear = [p for p in spare if _edge_clear(p)]
        if clear:
            edits.append((clear[0], rng.choice((-3, -6, 3))))
        for p, d in sorted(edits, reverse=True):
            if d < 0:
                del seq[p:p - d]
            else:
                seq[p:p] = [rng.choice("ACGT") for _ in range(d)]
        self.sequences.append(Sequence("".join(seq), lin, carried,
                                       frameshift, n_run))
        return len(self.sequences) - 1

    def batch(self, n: int, reuse: float = 0.25) -> list[Genome]:
        """``n`` new genomes; ``round(n * reuse)`` of them, at seeded
        places, carry a sequence issued earlier (in this batch or
        before) under a new accession."""
        rng = self.rng
        fresh = [True] * (n - round(n * reuse)) + [False] * round(n * reuse)
        rng.shuffle(fresh)
        if not self.sequences and not fresh[0]:
            fresh[fresh.index(True)] = False
            fresh[0] = True
        out = []
        for is_new in fresh:
            sid = (self._new_sequence() if is_new
                   else rng.randrange(len(self.sequences)))
            g = Genome(
                accession=f"SYN{len(self.genomes):07d}", seqid=sid,
                lineage=self.sequences[sid].lineage,
                date=DATE0 + dt.timedelta(days=rng.randrange(N_DAYS)),
                zip=rng.choice(ZIP_PREFIXES) + f"{rng.randrange(1000):03d}",
                lab=rng.choice(LABS))
            self.genomes.append(g)
            out.append(g)
        return out

    # -- serialisation ---------------------------------------------------

    def description(self, g: Genome) -> str:
        return f"{g.accession} synthetic genome {g.lineage}"

    def fasta(self, genomes: list[Genome]) -> str:
        return "".join(f">{self.description(g)}\n{self.sequences[g.seqid].seq}\n"
                       for g in genomes)

    def marker_token(self, i: int) -> str:
        p, alt = self.markers[i]
        return f"{self.ref[p]}{p + 1}{alt}"
