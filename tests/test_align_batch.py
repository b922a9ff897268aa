"""Batched aligner (BandedGotoh.align_many) parity and isolation tests.

The ingest UDF now aligns each Arrow batch through ``align_many``
(ingest.py derive_profiles), which pools every pair's small DP windows
and solves them in one lockstep numpy row loop.  These tests pin the
contract that makes that safe: byte-for-byte identical output to the
scalar ``align()`` path (same recurrences, tie rules, traceback), and
per-pair error isolation (one bad genome never poisons its batch) —
the same guarantee the reference gives via its per-sequence worker
processes (/root/reference/sonar.py:643-663).
"""

from __future__ import annotations

import random

import pytest

from covsonar_spark.functions.genetics import harmonize, read_fasta_one
from covsonar_spark.operators.align import AlignmentBudgetError, BandedGotoh


def _mutate(ref: str, rng: random.Random, n_snp: int, n_ins: int,
            n_del: int, n_run: bool = False) -> str:
    s = list(ref)
    for _ in range(n_snp):
        i = rng.randrange(len(s))
        s[i] = rng.choice("ACGT")
    seq = "".join(s)
    for _ in range(n_ins):
        i = rng.randrange(1, len(seq) - 1)
        seq = seq[:i] + "".join(rng.choice("ACGT")
                                for _ in range(rng.randint(1, 9))) + seq[i:]
    for _ in range(n_del):
        i = rng.randrange(1, max(len(seq) - 30, 2))
        seq = seq[:i] + seq[i + rng.randint(1, 12):]
    if n_run and len(seq) > 600:
        i = rng.randrange(300, len(seq) - 300)
        seq = seq[:i] + "N" * rng.randint(5, 30) + seq[i + 10:]
    return seq


@pytest.fixture(scope="module")
def ref_genome(covsonar):
    _, _, ref = read_fasta_one(f"{covsonar.root}/lib/ref.fna")
    return harmonize(ref)


def test_batch_matches_scalar_fuzz_small():
    """64 synthetic 3 kb genomes, heavy indel mix: batch == scalar,
    byte for byte (the decomposition is shared; this pins the lockstep
    window solver against the scalar banded DP)."""
    rng = random.Random(11)
    ref = "".join(rng.choice("ACGT") for _ in range(3000))
    pairs = []
    for i in range(64):
        r = random.Random(100 + i)
        pairs.append((_mutate(ref, r, r.randint(0, 40), r.randint(0, 6),
                              r.randint(0, 6), n_run=(i % 3 == 0)), ref))
    scalar = [BandedGotoh().align(q, t) for q, t in pairs]
    batched = BandedGotoh().align_many(pairs)
    assert batched == scalar


def test_batch_matches_scalar_real_genome(ref_genome):
    """Full-length SARS-CoV-2 mutants (the ingest workload shape)."""
    pairs = []
    for i in range(8):
        r = random.Random(1_000_003 * i + 7)
        pairs.append((_mutate(ref_genome, r, 25, 3, 3, n_run=True),
                      ref_genome))
    scalar = [BandedGotoh().align(q, t) for q, t in pairs]
    batched = BandedGotoh().align_many(pairs)
    assert batched == scalar


def test_batch_edge_pairs():
    """Degenerate members don't break the pool: identical pair,
    empty query, query that is pure insertion tail, single base."""
    ref = "ACGTACGTACGTACGTACGT" * 10
    pairs = [
        (ref, ref),                       # gap-free fast path
        ("", ref),                        # all-deletion
        (ref + "ACGTAC", ref),            # pure tail insertion
        ("A", ref),                       # near-total deletion
        (ref[:50] + ref[60:], ref),       # internal deletion
    ]
    scalar = [BandedGotoh().align(q, t) for q, t in pairs]
    batched = BandedGotoh().align_many(pairs)
    assert batched == scalar


def test_batch_error_isolation():
    """A pair that blows the DP cell budget returns its exception in
    place; every other pair in the batch still aligns correctly."""
    rng = random.Random(5)
    ref = "".join(rng.choice("ACGT") for _ in range(2000))
    good = _mutate(ref, random.Random(6), 10, 2, 2)
    # low-complexity garbage vs ref defeats anchoring and the gap-free
    # path, forcing one ~800k-cell DP; the good pair needs ~154k cells
    # (it contains one oversized window), so a 500k budget separates
    # them
    bad = "ACAC" * 500
    al = BandedGotoh(cell_budget=500_000)
    out = al.align_many([(good, ref), (bad, ref), (ref, ref)])
    assert isinstance(out[1], AlignmentBudgetError)
    assert out[0] == BandedGotoh().align(good, ref)
    assert out[2] == (ref, ref)


def test_batch_budget_is_per_pair():
    """cells are charged per owning pair, not shared across the batch:
    N easy pairs each far under budget must all succeed even when
    their summed window cells would exceed one pair's budget."""
    rng = random.Random(9)
    ref = "".join(rng.choice("ACGT") for _ in range(3000))
    pairs = []
    for i in range(24):
        r = random.Random(i)
        pairs.append((_mutate(ref, r, 8, 3, 3), ref))
    # each pair's windows cost ~1e5 cells; 24x that would breach 1e6
    al = BandedGotoh(cell_budget=1_000_000)
    out = al.align_many(pairs)
    assert all(not isinstance(o, Exception) for o in out)
    assert out == [BandedGotoh().align(q, t) for q, t in pairs]
