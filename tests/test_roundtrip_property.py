"""Property-based round-trip: for arbitrary mutated genomes,
align → derive variants → apply variants to the reference ==
original sequence, and the restored alignment degaps back to the
inputs (reference be_paranoid, lib/sonardb.py:3684-3819, generalized
to random genomes as SURVEY §5 suggests)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from covsonar_spark.functions.genetics import harmonize, parse_gff3, read_fasta_one
from covsonar_spark.operators.restore import (apply_variants,
                                              apply_variants_aligned)
from covsonar_spark.operators.variants import process_sequence

BASES = "ACGT"


@pytest.fixture(scope="module")
def refdata(covsonar):
    _, _, ref = read_fasta_one(f"{covsonar.root}/lib/ref.fna")
    ref = harmonize(ref)
    return ref, parse_gff3(f"{covsonar.root}/lib/ref.gff3", ref)


def mutate(ref: str, ops: list[tuple[int, int, str, int]]) -> str:
    """Apply (pos_frac, kind, payload, length) mutation ops to a copy of
    the reference; ops far enough apart that edits don't collide."""
    seq = list(ref)
    used: set[range] = set()
    spans = []
    for pos_seed, kind, payload, length in ops:
        pos = 500 + (pos_seed % (len(ref) - 1500))
        if any(abs(pos - s) < 120 for s in spans):
            continue
        spans.append(pos)
        if kind == 0:  # SNP
            alt = BASES[(BASES.index(seq[pos]) + 1 + length) % 4]
            seq[pos] = alt
        elif kind == 1:  # deletion
            for i in range(pos, min(pos + 1 + length, len(seq) - 500)):
                seq[i] = ""
        else:  # insertion after pos
            seq[pos] = seq[pos] + payload
    return "".join(seq)


mutation_ops = st.lists(
    st.tuples(st.integers(0, 2**31), st.integers(0, 2),
              st.text(alphabet=BASES, min_size=1, max_size=8),
              st.integers(0, 20)),
    min_size=0, max_size=12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ops=mutation_ops, trunc_lo=st.integers(0, 250), trunc_hi=st.integers(0, 250))
def test_roundtrip_random_genomes(refdata, ops, trunc_lo, trunc_hi):
    """Includes truncated ends — real consensus genomes routinely miss
    the first/last few hundred bases (terminal deletions)."""
    ref, cds = refdata
    seq = mutate(ref, ops)
    seq = seq[trunc_lo:len(seq) - trunc_hi if trunc_hi else len(seq)]
    res = process_sequence(seq, ref, cds)
    variants = [{"ref": v[0], "alt": v[1], "start": v[2]}
                for v in res["dna_vars"]]
    assert apply_variants(ref, variants) == seq
    qry, aligned_ref = apply_variants_aligned(ref, variants)
    assert qry.replace("-", "") == seq
    assert aligned_ref.replace("-", "") == ref
    assert len(qry) == len(aligned_ref)


# ---------------------------------------------------------------------------
# alignment cell budget (reference SIGALRM parity, sonar.py:87-94)
# ---------------------------------------------------------------------------

def test_cell_budget_raises_not_stalls():
    """Adversarial low-complexity input under a tiny budget raises
    AlignmentBudgetError promptly instead of grinding an executor task;
    the ingest UDF converts that into a per-row error."""
    from covsonar_spark.operators.align import (AlignmentBudgetError,
                                                BandedGotoh)
    # periodic sequences defeat the unique-anchor split and force wide
    # bands: many near-equal alignments, band keeps doubling
    q = "ACGT" * 2000 + "TTTT" * 500
    t = "ACGT" * 1800 + "GGGG" * 700
    a = BandedGotoh(cell_budget=100_000)
    with pytest.raises(AlignmentBudgetError):
        a.align(q, t)


def test_cell_budget_default_accepts_real_genomes(refdata):
    """A genuinely hard (indel-rich) genome still aligns under the
    default budget — the cap only cuts off pathological escalation."""
    ref, _ = refdata
    mutated = mutate(ref, [(i * 9973, 1, "ACGTACGT", 15) for i in range(10)]
                     + [(i * 7919 + 3000, 2, "ACGTACGT", 4) for i in range(10)])
    from covsonar_spark.operators.align import BandedGotoh
    a = BandedGotoh()
    aq, at = a.align(mutated, ref)
    assert aq.replace("-", "") == mutated
    assert at.replace("-", "") == ref


def test_budget_error_reaches_error_channel(spark, refdata):
    """End-to-end: a pathological sequence ingested through
    derive_profiles lands in the error column, other rows unaffected."""
    import pandas as pd  # noqa: F401

    from covsonar_spark.operators.ingest import derive_profiles

    ref, cds = refdata
    rows = [("good", ref[:2000]),
            ("bad", "ACGT" * 2000 + "TTTT" * 500)]
    df = spark.createDataFrame(rows, ["seqhash", "sequence"])
    out = {r["seqhash"]: r for r in
           derive_profiles(df, ref[:2000], cds_list=[],
                           cell_budget=100_000).collect()}
    assert out["good"]["error"] is None
    assert out["bad"]["error"] is not None
    assert "AlignmentBudgetError" in out["bad"]["error"]


# ---------------------------------------------------------------------------
# band-edge stressors: adversarial indel placement for the anchored
# divide-and-conquer (homopolymer runs near DP_MAX window boundaries,
# indels inside the midpoint 64-mer that defeat the first anchor probe)
# ---------------------------------------------------------------------------

def _roundtrip_one(ref, cds, mutated):
    res = process_sequence(mutated, ref, cds)
    variants = [{"ref": v[0], "alt": v[1], "start": v[2]}
                for v in res["dna_vars"]]
    assert apply_variants(ref, variants) == mutated
    aq, at = apply_variants_aligned(ref, variants)
    assert aq.replace("-", "") == mutated
    assert at.replace("-", "") == ref
    assert len(aq) == len(at)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(center=st.integers(1000, 28000), homo_len=st.integers(20, 220),
       indel_len=st.integers(1, 60), as_del=st.booleans())
def test_homopolymer_indel_near_window_edges(refdata, center, homo_len,
                                             indel_len, as_del):
    """A long homopolymer with an indel inside it — the worst case for
    banded DP (every gap placement scores equally) and for anchor
    uniqueness — must still round-trip exactly."""
    ref, cds = refdata
    seq = list(ref)
    # plant a homopolymer run at `center`
    for i in range(center, min(center + homo_len, len(seq) - 600)):
        seq[i] = "A"
    if as_del:
        for i in range(center + homo_len // 2,
                       min(center + homo_len // 2 + indel_len, len(seq) - 600)):
            seq[i] = ""
    else:
        seq[center + homo_len // 2] += "A" * indel_len
    _roundtrip_one(ref, cds, "".join(seq))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(n_mut=st.integers(1, 6), seed=st.integers(0, 2**31))
def test_indels_planted_inside_midpoint_anchor(refdata, n_mut, seed):
    """Indels planted exactly at the recursive midpoints (where the
    64-mer anchor probe looks first) force the probe-slide fallback —
    the alignment must stay exact."""
    ref, cds = refdata
    seq = list(ref)
    lo, hi = 500, len(ref) - 500
    # repeatedly bisect [lo, hi] and mutate at each midpoint
    spans = []
    for i in range(n_mut):
        mid = lo + ((hi - lo) >> (i + 1))
        pos = mid + (seed % 31) - 15
        if any(abs(pos - s) < 150 for s in spans):
            continue
        spans.append(pos)
        if (seed >> i) & 1:
            for j in range(pos, pos + 5 + (seed % 11)):
                seq[j] = ""
        else:
            seq[pos] += "ACGT"[(seed >> i) % 4] * (3 + seed % 9)
    _roundtrip_one(ref, cds, "".join(seq))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rep_unit=st.text(alphabet=BASES, min_size=2, max_size=6),
       n_rep=st.integers(10, 60), pos_seed=st.integers(0, 2**31),
       extra_reps=st.integers(1, 8))
def test_tandem_repeat_expansion(refdata, rep_unit, n_rep, pos_seed,
                                 extra_reps):
    """Tandem-repeat expansion (copy-number change of a short motif):
    every gap placement inside the repeat scores equally, exercising
    the left_align_gaps normalization and band escalation."""
    ref, cds = refdata
    pos = 500 + (pos_seed % (len(ref) - 2000))
    seq = ref[:pos] + rep_unit * n_rep + ref[pos:]
    # expansion relative to that: more copies
    mutated = ref[:pos] + rep_unit * (n_rep + extra_reps) + ref[pos:]
    res = process_sequence(mutated, seq, cds)
    variants = [{"ref": v[0], "alt": v[1], "start": v[2]}
                for v in res["dna_vars"]]
    assert apply_variants(seq, variants) == mutated
