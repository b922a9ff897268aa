"""The benchmark's workloads, each a closed loop with one client.

``ingest``  consecutive ``add_fasta_df`` batches into one growing store,
            each followed by the ``update_metadata`` that gives the new
            genomes their lineage, date, zip and lab.
``screen``  a fixed rotation of covsonar match shapes plus one FASTA
            restore and VCF export, against a store built and optimized
            during set-up (so its manifests are live).

Every operation's output is checked against the generator's own records
(synth.Corpus); a failed check counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import statistics
import time

from synth import DATE0, MARKER_SHARES, N_DAYS, Corpus, gff3_text

from covsonar_spark.functions.genetics import seguid
from covsonar_spark.metrics import exec_metrics
from covsonar_spark.operators.ingest import derive_profiles
from covsonar_spark.operators.match import MatchQuery
from covsonar_spark.operators.restore import paranoid_check, restore_genomes
from covsonar_spark.operators.vcf import export_vcf
from covsonar_spark.sources.fasta import read_fasta
from covsonar_spark.store import SonarStore

INGEST_SETUP = 64              # the cold first add of set-up
INGEST_BATCH = 256
INGEST_MIN_OPS = 4            # a median of four batches, whatever --seconds says
SCREEN_GENOMES = 512
SCREEN_REUSE = 0.875           # 64 distinct sequences
EXPORT_MAX = 20
WARM_ROTATIONS = 1
TIMED_ROTATIONS = 2           # at least, whatever --seconds says
SHAPES = ("token", "and_lineage", "or_exclude", "wildcard_dates", "count",
          "frameshift", "export")
COMMON = [i for i, s in enumerate(MARKER_SHARES) if s >= 0.2]
META_SCHEMA = "accession string, lineage string, date date, zip string, lab string"


class CheckFailed(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Workload:
    """One run's state: the session, the run's scratch directory, the
    corpus and store of the latest set-up, and the op log."""

    def __init__(self, spark, workdir: str, seed: int, tracer=None):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies_ms: list[float] = []
        self.rates: list[float] = []  # items per second of each timed unit
        self.loop_s = 0.0
        self.layer: dict[str, list[float]] = {}
        self.tracing = False          # spans are recorded while set

    def warm_up(self) -> None:
        """Untimed operations run once between set-up and the loop."""

    def verify(self) -> None:
        """Checks run once after the timed loop."""

    # -- helpers ---------------------------------------------------------

    def run_op(self, fn, *args):
        """Run one checked operation; a raise counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — every failure is counted, the loop goes on
            self.failed += 1
            self.failures.append(f"{fn.__name__}: {type(e).__name__}: {e}"[:300])
            return None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def fresh_store(self) -> None:
        """A new corpus and an empty store opened from its assets."""
        d = os.path.join(self.workdir, "setup")
        os.makedirs(d)
        self.dir = d
        self.corpus = Corpus(self.seed)
        with open(f"{d}/ref.fna", "w") as fh:
            fh.write(f">NC_045512.2 synthetic reference\n{self.corpus.ref}\n")
        with open(f"{d}/ref.gff3", "w") as fh:
            fh.write(gff3_text())
        with open(f"{d}/lineage.tsv", "w") as fh:
            fh.write(self.corpus.sublineage_tsv())
        self.store = SonarStore.open(self.spark, f"{d}/store", f"{d}/ref.fna",
                                     f"{d}/ref.gff3", f"{d}/lineage.tsv")
        self.stored: list = []
        self.stored_seqids: set[int] = set()
        self.n_batches = 0

    def write_batch(self, n: int, reuse: float) -> tuple[list, str, list[int]]:
        batch = self.corpus.batch(n, reuse)
        self.n_batches += 1
        path = f"{self.dir}/batch{self.n_batches}.fasta"
        with open(path, "w") as fh:
            fh.write(self.corpus.fasta(batch))
        new = sorted({g.seqid for g in batch} - self.stored_seqids)
        return batch, path, new

    def meta_frame(self, genomes):
        return self.spark.createDataFrame(
            [(g.accession, g.lineage, g.date, g.zip, g.lab) for g in genomes],
            META_SCHEMA)

    def add_and_update(self, batch, path, new) -> None:
        with self.span("store.add"):
            rep = self.store.add_fasta_df(read_fasta(self.spark, [path]))
        with self.span("store.update"):
            n = self.store.update_metadata(self.meta_frame(batch))
        self.stored.extend(batch)
        self.stored_seqids.update(new)
        check(rep["errors"] == {}, f"align errors {list(rep['errors'].items())[:2]}")
        check(rep.get("paranoid_mismatches") == [], "paranoid round-trip")
        check(rep["added_accessions"] == len(batch),
              f"added {rep['added_accessions']} != {len(batch)}")
        check(rep["new_sequences"] == len(new),
              f"new sequences {rep['new_sequences']} != {len(new)}")
        check(n == len(batch), f"updated {n} != {len(batch)}")

    def store_space(self) -> tuple[int, int]:
        """(data files, bytes) of every regular file under the store."""
        files = size = 0
        for root, _dirs, names in os.walk(f"{self.dir}/store"):
            for nm in names:
                size += os.path.getsize(os.path.join(root, nm))
                files += nm.endswith(".parquet")
        return files, size

    def bytes_per_genome(self) -> float:
        return self.store_space()[1] / len(self.stored)

    def timed_loop(self, seconds: float, min_ops: int, step,
                   whole: int = 1) -> None:
        """Run ``step(i, traced)`` until ``seconds`` have passed, at least
        ``min_ops`` ran and the op count is a multiple of ``whole``; with
        a tracer every other op is traced."""
        t0 = time.perf_counter()
        i = 0
        while (i < min_ops or i % whole
               or time.perf_counter() - t0 < seconds):
            self.tracing = self.tracer is not None and i % 2 == 1
            step(i, self.tracing)
            i += 1
        self.loop_s = time.perf_counter() - t0
        self.tracing = self.tracer is not None

    def layer_space(self) -> None:
        files, size = self.store_space()
        self.note("store.data_files", files)
        self.note("store.bytes", size)
        with self.span("commitlog.history"):
            t = time.perf_counter()
            hist = self.store.history(limit=1)
            self.note("commitlog.history_ms", (time.perf_counter() - t) * 1e3)
        self.note("commitlog.versions", hist[-1]["version"] if hist else 0)

    def restore_matches(self, accs: list[str]) -> None:
        with self.span("restore.fasta"):
            t = time.perf_counter()
            rows = restore_genomes(self.store, accs).collect()
            self.note("restore.fasta_ms", (time.perf_counter() - t) * 1e3)
        by_acc = {g.accession: g for g in self.stored}
        check(sorted(r["accession"] for r in rows) == sorted(accs),
              "restored accession set")
        for r in rows:
            g = by_acc[r["accession"]]
            check(r["sequence"] == self.corpus.sequences[g.seqid].seq,
                  f"restored sequence of {g.accession}")
            check(r["description"] == self.corpus.description(g),
                  f"restored header of {g.accession}")


class Ingest(Workload):
    name = "ingest"

    def setup(self) -> None:
        self.fresh_store()
        self.add_and_update(*self.write_batch(INGEST_SETUP, 0.25))

    def loop(self, seconds: float) -> None:
        sizes = []

        def step(i, traced):
            batch, path, new = self.write_batch(INGEST_BATCH, 0.25)
            if traced:
                self.tracer.op += 1
                self.run_op(self.traced_probes, batch, path, new)
            t = time.perf_counter()
            with self.span("ingest.op"):
                self.run_op(self.add_and_update, batch, path, new)
            dt = (time.perf_counter() - t) * 1e3
            if traced:
                self.run_op(self.traced_paranoid, batch)
            (self.traced_ms if traced else self.latencies_ms).append(dt)
            self.rates.append(len(batch) / dt * 1e3)
            sizes.append(self.bytes_per_genome())

        self.traced_ms: list[float] = []
        self.timed_loop(seconds, INGEST_MIN_OPS, step)
        # space after the second timed batch: a fixed point of every run,
        # so a faster program does not report a bigger store
        self.space = sizes[1]
        if self.tracer:
            self.layer_space()

    def traced_probes(self, batch, path, new) -> None:
        """The layers add_fasta_df runs internally, called one by one on
        the same batch so each gets its own span."""
        with self.span("fasta.scan"):
            t = time.perf_counter()
            n = read_fasta(self.spark, [path]).count()
            self.note("fasta.scan_ms", (time.perf_counter() - t) * 1e3)
        check(n == len(batch), "fasta record count")
        seqs = [self.corpus.sequences[s].seq for s in new]
        df = self.spark.createDataFrame([(seguid(s), s) for s in seqs],
                                        "seqhash string, sequence string")
        with self.span("align.derive"):
            t = time.perf_counter()
            ok = derive_profiles(df, self.store.ref_seq, self.store.cds_list) \
                .where("error IS NULL").count()
            dt = time.perf_counter() - t
        self.note("align.derive_ms", dt * 1e3)
        self.note("align.genomes_per_s", len(new) / dt)
        check(ok == len(new), "aligner output count")

    def traced_paranoid(self, batch) -> None:
        """The paranoid round-trip of a committed batch, on its own."""
        seqs = [self.corpus.sequences[g.seqid].seq for g in batch]
        df = self.spark.createDataFrame(
            [(g.accession, seguid(s), s) for g, s in zip(batch, seqs)],
            "accession string, seqhash string, sequence string")
        with self.span("restore.paranoid"):
            t = time.perf_counter()
            bad = paranoid_check(self.store, df)
            self.note("restore.paranoid_ms", (time.perf_counter() - t) * 1e3)
        check(bad == [], f"paranoid mismatches {bad[:3]}")

    def verify(self) -> None:
        """End-of-run checks against the oracle: genome count, one
        marker screen and a byte-exact restore."""
        def final():
            n = self.store.table("genomes").count()
            check(n == len(self.stored), f"genomes {n} != {len(self.stored)}")
            m = COMMON[0]
            tok = self.corpus.marker_token(m)
            got = {r["accession"] for r in self.store.match(
                MatchQuery(profiles=[[tok]])).select("accession").collect()}
            exp = {g.accession for g in self.stored
                   if m in self.corpus.sequences[g.seqid].markers}
            check(got == exp, f"marker screen {len(got)} != {len(exp)}")
            last = self.stored[-INGEST_BATCH:]
            self.restore_matches([g.accession for g in last[:EXPORT_MAX]])
        self.run_op(final)


class Screen(Workload):
    name = "screen"

    def setup(self) -> None:
        self.fresh_store()
        batch, path, new = self.write_batch(SCREEN_GENOMES, SCREEN_REUSE)
        self.add_and_update(batch, path, new)
        self.store.optimize()
        self.space = self.bytes_per_genome()

    def warm_up(self) -> None:
        """Untimed, checked passes over every shape."""
        rng = random.Random(self.seed)
        self.last = []
        for _ in range(WARM_ROTATIONS):
            for shape in SHAPES:
                self.run_op(self.do, shape, rng)

    def loop(self, seconds: float) -> None:
        rng = random.Random(self.seed + 1)
        self.last: list[str] = []
        self.traced_ms: list[float] = []
        self.shape_ms: dict[str, list[int]] = {}
        rotation_ms: list[float] = []

        def step(i, traced):
            shape = SHAPES[i % len(SHAPES)]
            if traced:
                self.tracer.op += 1
            self.probe_df = None
            t = time.perf_counter()
            with self.span(f"screen.{shape}"):
                self.run_op(self.do, shape, rng)
            dt = (time.perf_counter() - t) * 1e3
            if self.probe_df is not None:
                self.run_op(self.manifest_probe)
            (self.traced_ms if traced else self.latencies_ms).append(dt)
            self.shape_ms.setdefault(shape, []).append(round(dt))
            rotation_ms.append(dt)
            if len(rotation_ms) == len(SHAPES):
                self.rates.append(len(SHAPES) / sum(rotation_ms) * 1e3)
                rotation_ms.clear()

        # whole rotations only, so every run medians the same mix
        self.timed_loop(seconds, TIMED_ROTATIONS * len(SHAPES), step,
                        whole=len(SHAPES))
        if self.tracer:
            self.layer_space()

    def do(self, shape: str, rng: random.Random) -> None:
        if shape == "export":
            accs = self.last or [g.accession for g in self.stored[:EXPORT_MAX]]
            return self.export(accs[:EXPORT_MAX])
        q, expected, n_runs = self.query(shape, rng)
        with self.span("match.build"):
            t = time.perf_counter()
            df = self.store.match(q)
            t1 = time.perf_counter()
        with self.span("match.run"):
            rows = df.collect()
            t2 = time.perf_counter()
        if self.tracing:
            self.note("match.build_ms", (t1 - t) * 1e3)
            self.note("match.run_ms", (t2 - t1) * 1e3)
            sp = self.tracer.spans[-2:]
            self.note("match.jobs", sum(s.jobs for s in sp))
            self.note("match.tasks", sum(s.tasks for s in sp))
            self.probe_df = df
        if q.count:
            check(rows[0]["count"] == expected,
                  f"{shape}: count {rows[0]['count']} != {expected}")
            return
        got = sorted(r["accession"] for r in rows)
        check(got == sorted(expected), f"{shape}: {len(got)} rows != {len(expected)}")
        for r in rows:
            if r["accession"] in n_runs:
                check(any(t.endswith("N") for t in r["dna_profile"]),
                      f"{shape}: ambiguous calls missing for {r['accession']}")
        self.last = got

    def manifest_probe(self) -> None:
        """Re-runs the traced match for its scan metrics (files and bytes
        the manifest let through), outside the op's timing."""
        with self.span("manifest.probe"):
            m = exec_metrics(self.probe_df)
        self.note("manifest.files_read", m.files_read)
        self.note("manifest.bytes_planned", m.file_bytes_planned)

    def query(self, shape: str, rng: random.Random):
        """A MatchQuery of ``shape`` with seeded parameters, its expected
        accession set (or count) and the accessions whose output must
        keep ambiguous calls."""
        c, gs = self.corpus, self.stored

        def has(g, m):
            return m in c.sequences[g.seqid].markers

        tok = c.marker_token
        n_runs: set[str] = set()
        if shape == "token":
            m = rng.randrange(len(MARKER_SHARES))
            q = MatchQuery(profiles=[[tok(m)]])
            exp = [g for g in gs if has(g, m)]
        elif shape == "and_lineage":
            m1, m2 = rng.sample(COMMON, 2)
            lin = rng.choice(sorted({g.lineage for g in gs}))
            q = MatchQuery(profiles=[[tok(m1), tok(m2)]], lineages=[lin])
            exp = [g for g in gs if has(g, m1) and has(g, m2) and g.lineage == lin]
        elif shape == "or_exclude":
            m1, m2 = rng.sample(range(len(MARKER_SHARES)), 2)
            m3 = rng.choice([m for m in COMMON if m not in (m1, m2)])
            q = MatchQuery(profiles=[[tok(m1)], [tok(m2)]],
                           exclude_profiles=[[tok(m3)]])
            exp = [g for g in gs if (has(g, m1) or has(g, m2)) and not has(g, m3)]
        elif shape == "wildcard_dates":
            lin = rng.choice([x for x in c.lineages if c.descendants(x) != {x}])
            lo = DATE0 + dt.timedelta(days=rng.randrange(N_DAYS - 90))
            hi = lo + dt.timedelta(days=90)
            q = MatchQuery(lineages=[f"{lin}%"], with_sublineage=True,
                           dates=[f"{lo}:{hi}"])
            exp = [g for g in gs if g.lineage.startswith(lin) and lo <= g.date <= hi]
        elif shape == "count":
            lab = rng.choice(sorted({g.lab for g in gs}))
            zp = rng.choice(sorted({g.zip[:2] for g in gs}))
            q = MatchQuery(labs=[lab], zips=[zp], count=True)
            return q, sum(g.lab == lab and g.zip.startswith(zp) for g in gs), n_runs
        else:  # frameshift, keeping ambiguous calls in the output
            m = rng.choice(COMMON)
            q = MatchQuery(profiles=[[tok(m)]], frameshifts=1, ambig=True)
            exp = [g for g in gs if has(g, m) and c.sequences[g.seqid].frameshift]
            n_runs = {g.accession for g in exp if c.sequences[g.seqid].n_run}
        return q, [g.accession for g in exp], n_runs

    def export(self, accs: list[str]) -> None:
        self.restore_matches(accs)
        path = f"{self.dir}/export{self.attempted}.vcf"
        with self.span("vcf.export"):
            t = time.perf_counter()
            export_vcf(self.store, path, accessions=accs)
            self.note("vcf.export_ms", (time.perf_counter() - t) * 1e3)
        self.check_vcf(path, accs)
        os.remove(path)

    def check_vcf(self, path: str, accs: list[str]) -> None:
        """Samples are exactly the exported accessions, and every marker
        they carry is a site whose carriers, and only they, call it."""
        with open(path) as fh:
            lines = [ln.rstrip("\n").split("\t") for ln in fh
                     if not ln.startswith("##")]
        head, sites = lines[0], lines[1:]
        samples = head[9:]
        check(sorted(samples) == sorted(accs), "vcf samples")
        by_acc = {g.accession: g for g in self.stored}
        for m, (p, alt) in enumerate(self.corpus.markers):
            carriers = {a for a in accs
                        if m in self.corpus.sequences[by_acc[a].seqid].markers}
            row = [s for s in sites if s[1] == str(p + 1) and alt in s[4].split(",")]
            if not carriers:
                check(not row, f"vcf marker {m} without carriers")
                continue
            check(len(row) == 1, f"vcf marker {m} site")
            k = str(row[0][4].split(",").index(alt) + 1)
            called = {a for a, gt in zip(samples, row[0][9:]) if gt == k}
            check(called == carriers, f"vcf marker {m} genotypes")


WORKLOADS = {"ingest": Ingest, "screen": Screen}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
