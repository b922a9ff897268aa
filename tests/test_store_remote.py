"""Scheme-portability of the store's READ path (ARCHITECTURE.md "Store
commit protocol"): file listing, manifest pruning, table scans and
match() work through the Hadoop FileSystem API on a non-``file:``
scheme — here ``viewfs://`` mounted over a local directory, which
exercises the full URI code path (qualified listings, percent-encoded
``input_file_name()`` URIs, basePath resolution) without needing a
daemon.  Mutations refuse remote roots up front."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from covsonar_spark.store import (SonarStore, _SCHEMAS, hadoop_list_files,
                                  norm_uri)


def _mount(spark, name: str, local_root: str) -> str:
    """Mount ``viewfs://<name>/db`` over ``local_root`` and return the
    remote-scheme store root."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set(f"fs.viewfs.mounttable.{name}.link./db", "file://" + local_root)
    return f"viewfs://{name}/db"


def _write_clustered_store(spark, root: str, n: int = 80) -> SonarStore:
    """Local store with a (lineage, date)-clustered multi-file genomes
    table plus a profiles table (same shape as test_manifest's)."""
    st = SonarStore.open(spark, root)
    rows = []
    for i in range(n):
        k = i % 4
        rows.append((f"ACC{i}", None, f"h{i}", f"L.{k}",
                     str(10000 * (k + 1) + i),
                     datetime.date(2021, 2 * k + 1, 1 + i % 27),
                     None, None, None, None, None, None, None, None,
                     None, None, None, None, None, None))
    spark.createDataFrame(rows, schema=_SCHEMAS["genomes"]) \
        .repartitionByRange(4, "lineage", "date") \
        .write.parquet(os.path.join(root, "genomes"))
    profiles = [(f"h{i}", [f"C{100 + i % 9}T"], [], [], None, None)
                for i in range(n)]
    spark.createDataFrame(profiles, schema=_SCHEMAS["profiles"]) \
        .coalesce(1).write.parquet(os.path.join(root, "profiles"))
    return st


def test_listing_and_pruning_match_on_viewfs(spark, tmp_path):
    """_data_files and manifest pruning agree with input_file_name()
    URIs on a viewfs:// root, and whole files are skipped losslessly."""
    from covsonar_spark.operators.match import MatchQuery

    root = str(tmp_path / "db")
    _write_clustered_store(spark, root)
    uri = _mount(spark, "vtestprune", root)
    stv = SonarStore(spark, uri)

    files = stv._data_files("genomes")
    assert files and all(f.startswith("viewfs://vtestprune/db/genomes")
                         for f in files)
    scanned = {norm_uri(r[0]) for r in
               spark.read.parquet(uri + "/genomes")
               .select(F.input_file_name()).distinct().collect()}
    assert {norm_uri(f) for f in files} == scanned

    # manifest built THROUGH the mount: its file column carries
    # viewfs:// URIs from input_file_name(), which pruning must match
    n_files = stv.build_manifest("genomes")
    assert n_files == len(files)
    q = MatchQuery(lineages=["L.2"])
    pruned = stv._match_genomes(q)
    assert pruned is not None
    kept = pruned.inputFiles()
    assert 0 < len(kept) < n_files            # whole files skipped
    assert all(k.startswith("viewfs://") for k in kept)
    exp = sorted(r["accession"] for r in
                 spark.read.parquet(uri + "/genomes")
                 .where(F.col("lineage") == "L.2")
                 .select("accession").collect())
    got = sorted(r["accession"] for r in
                 pruned.where(F.col("lineage") == "L.2")
                 .select("accession").collect())
    assert got == exp and exp


def test_match_end_to_end_on_viewfs(spark, tmp_path):
    """Full match() over a remote-scheme root equals the local run —
    the query-only contract for object-store/HDFS deployments."""
    from covsonar_spark.operators.match import MatchQuery

    root = str(tmp_path / "db")
    st_local = _write_clustered_store(spark, root)
    uri = _mount(spark, "vtestmatch", root)
    stv = SonarStore(spark, uri)
    stv.build_manifest("genomes")

    q = MatchQuery(lineages=["L.1"], dates=["2021-03-01:2021-03-31"])
    exp = sorted(r["accession"] for r in st_local.match(q).collect())
    got = sorted(r["accession"] for r in stv.match(q).collect())
    assert got == exp and exp

    # absent table on a remote root: empty with the canonical schema
    assert stv.table("dna_variants").count() == 0


@pytest.mark.parametrize("scheme", ["viewfs", "local"])
def test_commitlog_adopts_legacy_layout(spark, tmp_path, scheme):
    """First mutation on a root holding plain table directories: the
    commit-log protocol adopts them as version-1 base, optimize()
    compacts into log-managed dirs, and match results are unchanged —
    on a remote mount AND (round 7, unified protocol) a plain local
    path."""
    from covsonar_spark.operators.match import MatchQuery

    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=16)
    uri = _mount(spark, f"vtestmut{scheme}", root) \
        if scheme == "viewfs" else root
    stv = SonarStore(spark, uri)
    q = MatchQuery(lineages=["L.1"])
    before = sorted(r["accession"] for r in stv.match(q).collect())
    assert before

    res = stv.optimize(rows_per_file=8)
    assert res["genomes"] >= 1
    assert stv._log.versions()                 # a commit landed
    dirs = stv._live_dirs("genomes")
    assert dirs and all("/_data/genomes/c-" in d for d in dirs)
    after = sorted(r["accession"] for r in stv.match(q).collect())
    assert after == before


def test_commitlog_ingest_update_remove_on_viewfs(spark, tmp_path, covsonar):
    """The full mutation lifecycle on a remote-scheme root: open →
    ingest (atomic five-table commit) → metadata update → remove with
    orphan GC — each one commit, results identical to a local store
    run of the same inputs."""
    from covsonar_spark.operators.match import MatchQuery
    from covsonar_spark.sources.fasta import read_fasta
    from covsonar_spark.sources.metadata import read_pangolin_csv

    REF = covsonar.root
    local = str(tmp_path / "local_db")
    st_local = SonarStore.open(spark, local, ref_path=f"{REF}/lib/ref.fna",
                               gff_path=f"{REF}/lib/ref.gff3")
    remote_backing = str(tmp_path / "remote_db")
    os.makedirs(remote_backing, exist_ok=True)
    uri = _mount(spark, "vtestingest", remote_backing)
    st_remote = SonarStore.open(spark, uri, ref_path=f"{REF}/lib/ref.fna",
                                gff_path=f"{REF}/lib/ref.gff3")

    records = read_fasta(spark, [f"{REF}/test/test.fasta"])
    rep_l = st_local.add_fasta_df(records)
    rep_r = st_remote.add_fasta_df(records)
    assert rep_r["errors"] == {} and rep_r["paranoid_mismatches"] == []
    assert rep_r["added_accessions"] == rep_l["added_accessions"]
    v_after_ingest = st_remote._log.versions()
    assert len(v_after_ingest) == 1            # five tables, ONE commit

    pango = read_pangolin_csv(spark, f"{REF}/test/test_pangolin.csv")
    assert st_remote.update_metadata(pango) == st_local.update_metadata(pango)
    q = MatchQuery(lineages=[covsonar.facts.test1_lineage])
    exp = sorted(r["accession"] for r in st_local.match(q).collect())
    got = sorted(r["accession"] for r in st_remote.match(q).collect())
    assert got == exp and exp

    acc = exp[0]
    out_l = st_local.remove([acc])
    out_r = st_remote.remove([acc])
    assert out_r == out_l
    assert st_remote.match(MatchQuery()).count() == \
        st_local.match(MatchQuery()).count()
    # every mutation published exactly one atomic snapshot
    assert len(st_remote._log.versions()) == 3


def test_commitlog_conflict_and_reader_isolation(spark, tmp_path):
    """Optimistic-concurrency guarantees: (a) two committers at the
    same base version — exactly one wins, the loser gets a clean
    StoreWriteConflict; (b) staged-but-uncommitted data is invisible to
    a concurrent reader handle until the commit rename lands."""
    from covsonar_spark.commitlog import CommitLog, StoreWriteConflict

    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=8)
    uri = _mount(spark, "vtestconf", root)

    log = CommitLog(spark, uri)
    log.commit(0, {"genomes": [uri + "/genomes"]})
    log2 = CommitLog(spark, uri)
    with pytest.raises(StoreWriteConflict):
        log2.commit(0, {"genomes": []})        # same base: loser raises
    assert log.latest()[0] == 1

    writer = SonarStore(spark, uri)
    reader = SonarStore(spark, uri)
    n_before = reader.table("genomes").count()
    with writer._mutation_session():
        writer._overwrite("genomes", writer.table("genomes").limit(2))
        # writer sees its own staged state; the reader handle does not
        assert writer.table("genomes").count() == 2
        assert reader.table("genomes").count() == n_before
    assert reader.table("genomes").count() == 2


def test_commitlog_vacuum_reaps_garbage(spark, tmp_path):
    """A crashed/conflicted writer's staged dirs are invisible and
    vacuum() deletes them (plus superseded versions past retention)
    without touching live or adopted directories."""
    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=8)
    uri = _mount(spark, "vtestvac", root)
    stv = SonarStore(spark, uri)
    stv.optimize(rows_per_file=4)              # adopt + compact: v1
    n = stv.table("genomes").count()

    # simulate a crash: stage a write, then abort before commit
    with pytest.raises(RuntimeError, match="boom"):
        with stv._mutation_session():
            stv._append("genomes", stv.table("genomes").limit(1))
            raise RuntimeError("boom")
    assert stv.table("genomes").count() == n   # nothing published

    stv.optimize(rows_per_file=4)              # v2
    stv.optimize(rows_per_file=4)              # v3
    removed = stv._log.vacuum(
        {t: stv._data_area(t) for t in ("genomes", "profiles")},
        retain_last=1, min_age_s=0.0)
    assert removed >= 1                        # superseded dirs reaped
    assert stv.table("genomes").count() == n   # live data intact
    # the retained v3 is a DELTA chaining to the v1 checkpoint
    # (round-8 compaction): its chain's commit FILES survive GC and v3
    # keeps resolving; the reap above was the superseded DATA dirs
    assert stv._log.versions()[-1] == 3
    assert stv._log.resolve(3)["tables"] is not None


def test_remote_fs_failure_raises_not_empty(spark, tmp_path):
    """Round-5 review (medium): when the parquet read AND the fallback
    listing both fail (unresolvable mount / transient FS outage), the
    remote table() must raise StoreReadError — never silently return an
    empty table.  A CONFIRMED-absent path on a healthy mount still
    reads as empty (test_match_end_to_end_on_viewfs)."""
    from covsonar_spark.store import StoreReadError

    stv = SonarStore(spark, "viewfs://no-such-mounttable/db")
    with pytest.raises(StoreReadError, match="filesystem error"):
        stv.table("genomes")


def test_hadoop_listing_filters_hidden_and_sizes(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.range(10).coalesce(1).write.parquet(d)
    os.makedirs(os.path.join(d, "_temporary/0"), exist_ok=True)
    with open(os.path.join(d, "_temporary/0/part-x.parquet"), "w") as fh:
        fh.write("junk")
    vis = hadoop_list_files(spark, d)
    assert vis and all("_temporary" not in p and "_SUCCESS" not in p
                       for p in vis)
    sized = hadoop_list_files(spark, d, include_hidden=True, with_size=True)
    assert any("_SUCCESS" in p for p, _s in sized)
    total = sum(s for _p, s in sized)
    # LocalFileSystem hides its .crc checksum sidecars from listings;
    # compare against the dot-file-free disk sum
    disk = sum(os.path.getsize(os.path.join(b, f))
               for b, _dirs, fs in os.walk(d) for f in fs
               if not f.startswith("."))
    assert total == disk


def test_manifest_pinned_match_needs_no_listing(spark, tmp_path, monkeypatch):
    """On a commit-log store whose manifest is pinned to the current
    commit, match-time pruning resolves the file set from the manifest
    itself — ZERO hadoop_list_files calls (the round-5 verdict's
    listing-cliff item).  A new commit unpins it: pruning falls back to
    listing and stays lossless."""
    import covsonar_spark.store as store_mod
    from covsonar_spark.operators.match import MatchQuery

    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=32)
    uri = _mount(spark, "vtestpin", root)
    stv = SonarStore(spark, uri)
    stv.optimize(rows_per_file=8)              # commit + pinned manifests
    assert stv._manifest_current_files("genomes")

    q = MatchQuery(lineages=["L.1"], dates=["2021-03-01:2021-03-31"])
    expect = sorted(r["accession"] for r in stv.match(q).collect())
    assert expect

    calls = []
    real = store_mod.hadoop_list_files

    def counting(spark_, path, **kw):
        calls.append(path)
        return real(spark_, path, **kw)
    monkeypatch.setattr(store_mod, "hadoop_list_files", counting)
    got = sorted(r["accession"] for r in stv.match(q).collect())
    assert got == expect
    assert calls == [], f"hot-path listings happened: {calls}"

    # a mutation bumps the version -> pin stale -> listing fallback,
    # results still exact
    monkeypatch.setattr(store_mod, "hadoop_list_files", real)
    upd = spark.createDataFrame([("ACC0", "LAB-X")],
                                "accession string, lab string")
    stv.update_metadata(upd)
    assert not stv._manifest_current_files("genomes")
    got2 = sorted(r["accession"] for r in stv.match(q).collect())
    assert got2 == expect


def test_incremental_manifest_build(spark, tmp_path, monkeypatch):
    """On a commit-log store, build_manifest reuses rows of still-live
    immutable dirs and scans ONLY dirs added since the last build —
    and an ingest-shaped append keeps the pinned zero-listing path hot.
    The incremental result must equal a forced full rebuild."""
    import covsonar_spark.store as store_mod
    from covsonar_spark.operators.match import MatchQuery

    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=32)
    uri = _mount(spark, "vtestinc", root)
    stv = SonarStore(spark, uri)
    stv.optimize(rows_per_file=8)              # v1 + pinned manifests

    # append one new genomes dir through the protocol
    import datetime
    extra = [(f"X{i}", None, f"hx{i}", "L.9", "90001",
              datetime.date(2022, 9, 1 + i), None, None, None, None,
              None, None, None, None, None, None, None, None, None,
              None) for i in range(6)]
    with stv._mutation_session():
        stv._append("genomes", spark.createDataFrame(
            extra, schema=_SCHEMAS["genomes"]))

    # incremental build must scan only the NEW dir
    scanned = []
    import covsonar_spark.sources.manifest as man_mod
    real_bm = man_mod.build_manifest

    def spying_bm(spark_, table_path, **kw):
        scanned.append(table_path)
        return real_bm(spark_, table_path, **kw)
    monkeypatch.setattr(store_mod, "norm_uri", store_mod.norm_uri)
    import covsonar_spark.sources.manifest
    monkeypatch.setattr(covsonar_spark.sources.manifest,
                        "build_manifest", spying_bm)
    n_inc = stv.build_manifest("genomes")
    assert len(scanned) == 1 and isinstance(scanned[0], list)
    assert len(scanned[0]) == 1 and "/c-" in scanned[0][0]  # only new dir
    inc_rows = sorted(
        (r["file"], r["n_rows"]) for r in stv._manifest("genomes").collect())

    n_full = stv.build_manifest("genomes", incremental=False)
    full_rows = sorted(
        (r["file"], r["n_rows"]) for r in stv._manifest("genomes").collect())
    assert n_inc == n_full and inc_rows == full_rows

    # pinned + correct: the appended rows are matchable with no listing
    assert stv._manifest_current_files("genomes")
    q = MatchQuery(lineages=["L.9"])
    assert stv.match(q).count() == 6


def test_ingest_keeps_manifest_pinned(spark, tmp_path, covsonar):
    """add_fasta_df on a commit-log store refreshes existing manifests
    incrementally, so the zero-listing pin survives ingest."""
    from covsonar_spark.operators.match import MatchQuery
    from covsonar_spark.sources.fasta import read_fasta

    REF = covsonar.root
    backing = str(tmp_path / "rdb")
    os.makedirs(backing, exist_ok=True)
    uri = _mount(spark, "vtestpin2", backing)
    st = SonarStore.open(spark, uri, ref_path=f"{REF}/lib/ref.fna",
                         gff_path=f"{REF}/lib/ref.gff3")
    st.add_fasta_df(read_fasta(spark, [f"{REF}/test/test.fasta"]))
    st.optimize(rows_per_file=10)              # creates + pins manifests
    assert st._manifest_current_files("profiles")

    rep = st.add_fasta_df(read_fasta(spark, [f"{REF}/test/test2.fasta"]))
    assert rep["manifest_files_profiles"] >= 2
    assert st._manifest_current_files("profiles")   # pin survived ingest
    assert st._manifest_current_files("genomes")
    # the new genome is matchable through the pinned pruned path
    assert st.match(MatchQuery(accessions=["test3"])).count() == 1


def test_time_travel_and_history(spark, tmp_path):
    """Commit-log version history: table_at(v) returns the exact
    pre-mutation snapshot while retention holds, history() lists the
    commits, and posix stores refuse cleanly."""
    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=12)
    uri = _mount(spark, "vtesttt", root)
    stv = SonarStore(spark, uri)
    stv.optimize(rows_per_file=6)                       # v1
    n1 = stv.table("genomes").count()
    labs_v1 = stv.table("genomes").where(
        F.col("lab").isNotNull()).count()
    assert labs_v1 == 0

    upd = spark.createDataFrame([(f"ACC{i}", "LAB-Z") for i in range(12)],
                                "accession string, lab string")
    stv.update_metadata(upd)                            # v2
    hist = stv.history()
    assert [h["version"] for h in hist] == [1, 2]
    assert stv.table("genomes").where(F.col("lab") == "LAB-Z").count() == 12
    old = stv.table_at("genomes", 1)
    assert old.count() == n1
    assert old.where(F.col("lab").isNotNull()).count() == 0   # pre-update

    # round-7 unification: a LOCAL handle on the same directory sees
    # the same commit log — identical history, identical time travel
    # (pre-unification it refused; one protocol everywhere now)
    st_local = SonarStore(spark, root)
    assert [h["version"] for h in st_local.history()] == [1, 2]
    assert st_local.table_at("genomes", 1).count() == n1
    with pytest.raises(ValueError, match="not found"):
        st_local.table_at("genomes", 99)


def test_pushdown_survives_commitlog_union(spark, tmp_path):
    """table() on a log store scans every live dir — Catalyst must
    still push filters into EVERY scan in the plan (a read that blocked
    pushdown would silently full-scan 100 TB), and the scan must cover
    all live dirs."""
    import re

    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=24)
    uri = _mount(spark, "vtestpd", root)
    stv = SonarStore(spark, uri)
    stv.optimize(rows_per_file=6)
    with stv._mutation_session():                # second live dir
        stv._append("genomes", stv.table_at("genomes", 1).limit(4))
    dirs = stv._live_dirs("genomes")
    assert len(dirs) >= 2

    df = stv.table("genomes").where(F.col("lineage") == "L.2") \
        .select("accession", "lineage")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed
    assert all("EqualTo(lineage,L.2)" in p for p in pushed), pushed
    scanned = {norm_uri(f).rsplit("/", 1)[0] for f in df.inputFiles()}
    assert {norm_uri(d) for d in dirs} <= scanned


def _frame(spark, name: str, k: int, n: int = 2):
    """``n`` rows of table ``name`` that are distinct per commit ``k``."""
    from pyspark.sql import types as T

    def cell(f, i):
        t = f.dataType
        if isinstance(t, T.StringType):
            return f"{f.name}-{k}-{i}"
        if isinstance(t, (T.IntegerType, T.LongType)):
            return 10 * k + i
        if isinstance(t, T.DoubleType):
            return float(k + i)
        if isinstance(t, T.DateType):
            return datetime.date(2021, 1 + k, 1 + i)
        if isinstance(t, T.TimestampType):
            return datetime.datetime(2021, 1 + k, 1 + i)
        return [f"C{k}{i}T"]                    # array<string>
    fields = _SCHEMAS[name].fields
    return spark.createDataFrame(
        [tuple(cell(f, i) for f in fields) for i in range(n)],
        _SCHEMAS[name])


def _multi_dir_store(spark, tmp_path, scheme: str, mount: str):
    """Store with three commits, each appending one dir to every table."""
    from covsonar_spark.store import TABLES

    root = str(tmp_path / "db")
    os.makedirs(root)
    st = SonarStore(spark, _mount(spark, mount, root)
                    if scheme == "viewfs" else root)
    for k in range(3):
        with st._mutation_session():
            for name in TABLES:
                st._append(name, _frame(spark, name, k))
    return st, root


def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs launched while fn ran)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def last_job():
        bus.waitUntilEmpty()
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    before = last_job()
    out = fn()
    return out, last_job() - before


@pytest.mark.parametrize("scheme", ["viewfs", "local"])
def test_table_is_one_pinned_scan(spark, tmp_path, scheme):
    """table() over k live dirs builds with zero Spark jobs (the schema
    is pinned, never inferred per dir) into ONE parquet FileScan."""
    from covsonar_spark.store import TABLES

    st, _ = _multi_dir_store(spark, tmp_path, scheme, f"vtestscan{scheme}")
    for name in TABLES:
        assert len(st._live_dirs(name)) == 3
        df, jobs = _jobs_during(spark, lambda: st.table(name))
        assert jobs == 0, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
        assert df.count() == 6


@pytest.mark.parametrize("scheme", ["viewfs", "local"])
def test_dir_without_data_files_raises(spark, tmp_path, scheme):
    """A committed dir whose part files vanished fails the read loudly
    (StoreReadError) — a pinned schema must not turn it into a short
    table."""
    from covsonar_spark.store import StoreReadError

    st, root = _multi_dir_store(spark, tmp_path, scheme, f"vtestlost{scheme}")
    victim = st._live_dirs("dna_variants")[1].rsplit("/", 1)[1]
    local = os.path.join(root, "_data", "dna_variants", victim)
    parts = [f for f in os.listdir(local) if f.startswith("part-")]
    assert parts
    for f in parts:
        os.remove(os.path.join(local, f))
    with pytest.raises(StoreReadError, match=victim):
        st.table("dna_variants")
    with pytest.raises(StoreReadError, match=victim):
        st.table_at("dna_variants", st._log.versions()[-1])
    assert st.table("prot_variants").count() == 6


@pytest.mark.parametrize("scheme", ["viewfs", "local"])
def test_table_at_latest_equals_table(spark, tmp_path, scheme):
    """table_at(latest version) and table() read the same rows."""
    from covsonar_spark.store import TABLES

    st, _ = _multi_dir_store(spark, tmp_path, scheme, f"vtestat{scheme}")
    v = st._log.versions()[-1]
    for name in TABLES:
        got = sorted(map(tuple, st.table_at(name, v).collect()))
        assert got == sorted(map(tuple, st.table(name).collect()))
        assert len(got) == 6


@pytest.mark.parametrize("scheme", ["viewfs", "local"])
def test_commitlog_model_fuzz(spark, tmp_path, scheme):
    """Model-based fuzz: a random sequence of append / overwrite /
    filter-rewrite mutations applied through the commit-log protocol
    must leave table() equal to an in-memory Python model after EVERY
    commit, with one version per mutation and old versions readable
    until vacuumed — identical behavior on remote and local roots
    (round 7: one protocol everywhere)."""
    import random

    rng = random.Random(20260815)
    root = str(tmp_path / "db")
    os.makedirs(root, exist_ok=True)
    uri = _mount(spark, f"vtestfuzz{scheme}", root) \
        if scheme == "viewfs" else root
    st = SonarStore(spark, uri)

    schema = "seqhash string, dna_profile array<string>, " \
             "aa_profile array<string>, fs_profile array<string>, " \
             "dna_bloom long, aa_bloom long"
    model: dict[str, int] = {}          # seqhash -> bloom marker
    next_id = 0
    snapshots = []

    def frame(rows):
        return spark.createDataFrame(
            [(h, [], [], [], v, None) for h, v in rows], schema)

    for step in range(8):
        op = rng.choice(["append", "append", "overwrite", "rewrite"])
        with st._mutation_session():
            if op == "append":
                rows = [(f"h{next_id + i}", step) for i in range(rng.randint(1, 4))]
                next_id += len(rows)
                st._append("profiles", frame(rows))
                model.update(rows)
            elif op == "overwrite":
                rows = [(f"h{next_id + i}", step) for i in range(rng.randint(1, 3))]
                next_id += len(rows)
                st._overwrite("profiles", frame(rows))
                model = dict(rows)
            else:                        # rewrite: drop a random half
                keep_keys = {k for k in model if rng.random() < 0.5}
                st._overwrite("profiles", st.table("profiles").where(
                    F.col("seqhash").isin(list(keep_keys)) if keep_keys
                    else F.lit(False)))
                model = {k: v for k, v in model.items() if k in keep_keys}
        got = {(r["seqhash"], r["dna_bloom"]) for r in
               st.table("profiles").select("seqhash", "dna_bloom").collect()}
        assert got == set(model.items()), f"step {step} ({op})"
        snapshots.append((st._log.latest()[0], dict(model)))

    assert [v for v, _m in snapshots] == list(range(1, 9))  # linear log
    # time travel: every retained snapshot reads back exactly
    for v, m in snapshots[-3:]:
        got = {(r["seqhash"], r["dna_bloom"]) for r in
               st.table_at("profiles", v)
               .select("seqhash", "dna_bloom").collect()}
        assert got == set(m.items()), f"version {v}"


def test_read_snapshot_isolation(spark, tmp_path):
    """Plans built inside read_snapshot() resolve ONE commit version
    across tables, even when a writer commits mid-construction — the
    cross-table consistency the atomic multi-table commit enables."""
    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=12)
    uri = _mount(spark, "vtestsnap", root)
    reader = SonarStore(spark, uri)
    writer = SonarStore(spark, uri)
    writer.optimize(rows_per_file=6)            # v1

    with reader.read_snapshot():
        g1 = reader.table("genomes")
        # a writer lands v2 BETWEEN the two table resolutions
        upd = spark.createDataFrame(
            [(f"ACC{i}", "MID") for i in range(12)],
            "accession string, lab string")
        writer.update_metadata(upd)             # v2
        g2 = reader.table("genomes")
        # both tables resolved the pinned v1: no MID labels anywhere
        assert g1.where(F.col("lab") == "MID").count() == 0
        assert g2.where(F.col("lab") == "MID").count() == 0
    # outside the pin, reads resolve the latest commit again
    assert reader.table("genomes").where(
        F.col("lab") == "MID").count() == 12


def test_match_at_version(spark, tmp_path):
    """match_at(query, v) evaluates the FULL match semantics against a
    retained snapshot — results equal what match() returned before the
    mutation, including wildcard expansion over version-v lineages."""
    from covsonar_spark.operators.match import MatchQuery

    root = str(tmp_path / "db")
    _write_clustered_store(spark, root, n=16)
    uri = _mount(spark, "vtestmatchat", root)
    st = SonarStore(spark, uri)
    st.optimize(rows_per_file=8)                        # v1
    q = MatchQuery(lineages=["L.1%"])
    v1_rows = sorted(r["accession"] for r in st.match(q).collect())
    assert v1_rows

    # v2: relabel every L.1 genome to M.1.  The CURRENT match's L.1%
    # expansion is now empty, which (reference empty-expansion
    # semantics, lib/sonardb.py:3365-3388) drops the lineage predicate
    # entirely — all 16 rows return.  match_at(v1) expands over v1's
    # lineage values and returns exactly the pre-update rows.
    upd = spark.createDataFrame([(a, "M.1") for a in v1_rows],
                                "accession string, lineage string")
    st.update_metadata(upd)                             # v2
    assert st.match(q).count() == 16
    got = sorted(r["accession"] for r in st.match_at(q, 1).collect())
    assert got == v1_rows
    # a non-wildcard query shows the plain contrast: 0 now, 4 at v1
    q_lit = MatchQuery(lineages=["L.1"])
    assert st.match(q_lit).count() == 0
    assert sorted(r["accession"] for r in
                  st.match_at(q_lit, 1).collect()) == v1_rows

    # round-7 unification: the LOCAL handle time-travels the same log
    assert sorted(r["accession"] for r in
                  SonarStore(spark, root).match_at(q, 1).collect()) == v1_rows
