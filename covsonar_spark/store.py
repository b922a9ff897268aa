"""SonarStore — the engine's table manager (replaces the reference's
single SQLite file, lib/sonardb.py:1263-1421).

Layout: one parquet directory per logical table under a root path:

    root/genomes/         one row per accession (metadata)
    root/sequences/       one row per distinct seqhash (raw sequence)
    root/profiles/        one row per distinct seqhash (token arrays)
    root/dna_variants/    exploded nt variants per seqhash
    root/prot_variants/   exploded aa variants per seqhash

Scale notes (100 TB):
  * genomes is the big fact table → the genomes manifest carries exact
    per-file min/max date (and lineage/zip/ct) statistics so match
    predicates skip whole files — file statistics over hive
    partitioning, the same trade Delta/Iceberg make (directory
    partitioning explodes tiny files on object stores).
  * sequences/profiles/variants are keyed by seqhash; at cluster scale
    these would be bucketed by seqhash (Hive bucketing / liquid
    clustering) so the essence join and ingest anti-joins co-locate.
    Plain parquet (no metastore) can't persist bucketing — documented
    here, enforced via repartition-on-write to keep files seqhash-local.
  * mutation (add/update/delete) is copy-on-write into immutable
    uuid-named directories published by the versioned commit log
    (commitlog.py) — the Delta/Iceberg MERGE pattern without the
    format dependency, on every filesystem scheme, with MVCC history
    and time travel.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from covsonar_spark import schemas
from covsonar_spark.functions.genetics import CDS
from covsonar_spark.operators import ingest as ING
from covsonar_spark.operators import predicates as P
from covsonar_spark.operators.match import MatchEngine, MatchQuery, build_essence

TABLES = ("genomes", "sequences", "profiles", "dna_variants", "prot_variants")


class StoreReadError(RuntimeError):
    """A data-bearing table directory could not be read after retries.

    Raised instead of returning an empty DataFrame: the store's reader
    contract is old-snapshot-or-new, never silently empty — a torn
    footer or externally corrupted file must surface as an error."""


# ---------------------------------------------------------------------------
# Filesystem portability (ARCHITECTURE.md "Store commit protocol"):
# READ paths (table scans, manifests, file-level pruning) go through the
# Hadoop FileSystem API (with pure-Python os.* fast paths on local
# roots) so a store directory on any Spark-readable scheme (file:,
# hdfs:, viewfs:, s3a:, abfs:) can be queried.  ALL mutation paths use
# the log-structured commit protocol (commitlog.py): immutable
# uuid-named data directories published by a versioned snapshot file,
# put-if-absent commit rename as the single atomicity primitive —
# mutations (ingest/update/delete/optimize) work on any
# Hadoop-addressable store, a multi-table ingest is atomic (one commit
# covers all five tables, the property the reference got from its
# SQLite transaction, lib/sonardb.py:1316-1356), and every root gets
# MVCC history + time travel.  Pre-log LEGACY layouts (plain
# root/<table> directories) stay readable as-is and are adopted into
# the log by the first mutation.
# ---------------------------------------------------------------------------


def _remote_scheme(path: str) -> bool:
    """True when ``path`` is a URI on a non-local filesystem scheme
    (hdfs://, s3a://, viewfs://, …) — i.e. os.* primitives don't apply."""
    from covsonar_spark.commitlog import is_remote

    return is_remote(path)


def norm_uri(p: str) -> str:
    """Canonical ``scheme://netloc/path`` identity for comparing file
    paths across producers: ``input_file_name()`` (percent-encoded
    URIs), Hadoop listings (qualified URIs), and plain local paths —
    so manifest pruning matches files on every scheme, not only when
    both sides happen to be local paths."""
    from urllib.parse import unquote, urlparse

    u = urlparse(p)
    if not u.scheme or len(u.scheme) == 1:      # plain path (or drive letter)
        return "file://" + os.path.normpath(os.path.abspath(p))
    path = unquote(u.path) or "/"
    if u.scheme == "file":
        return "file://" + os.path.normpath(path)
    return f"{u.scheme}://{u.netloc}{os.path.normpath(path)}"


def hadoop_qualify(spark: SparkSession, path: str) -> str:
    """``path`` fully qualified by its owning Hadoop FileSystem (adds
    scheme/authority the way Spark's reader would)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.makeQualified(hpath).toString()


def hadoop_list_files(spark: SparkSession, path: str,
                      include_hidden: bool = False,
                      with_size: bool = False,
                      strict: bool = False) -> list:
    """Recursive file listing of ``path`` via the Hadoop FileSystem API
    — the same listing Spark's reader performs, so it works on any
    scheme a deployment stores tables on, not just the local POSIX
    tree.  Unless ``include_hidden``, entries with a ``_``/``.``
    -prefixed path segment (``_temporary`` staging trees, ``_SUCCESS``,
    dot-files) are filtered with Spark's own hidden-path rule.  Returns
    qualified URI strings (or ``(uri, size)`` with ``with_size``).
    Driver-side py4j iteration: fine for the tens of thousands of
    files a compacted 100 TB table holds; the result feeds a tiny
    manifest anti-set, never per-row work.

    ``strict`` distinguishes a CONFIRMED-absent path (still ``[]``)
    from an FS failure (unresolvable mount, transient outage), which
    then raises ``StoreReadError`` instead of pretending emptiness —
    callers deciding "table is empty" vs "table is unreadable" (the
    remote ``table()`` fallback) must not conflate the two (round-5
    review, medium)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = hpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return []
        root = fs.makeQualified(hpath).toString().rstrip("/")
        it = fs.listFiles(hpath, True)
    except Exception as exc:  # noqa: BLE001 — unresolvable mount/scheme
        if strict:
            raise StoreReadError(
                f"listing {path} failed (filesystem error, NOT a "
                f"confirmed-absent path): {exc}") from exc
        return []
    out = []
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        rel = p[len(root) + 1:] if p.startswith(root + "/") else p
        if not include_hidden and any(
                seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.append((p, st.getLen()) if with_size else p)
    return out


def _normalize_root(root: str) -> str:
    """An explicit ``file:`` URI normalizes to its posix path ONCE, at
    every root entry point (open/upgrade/version/__init__): the local
    branch runs on os.* primitives, which would treat the URI as a
    literal relative path (``./file:/…``) — every downstream path
    join, walk, and commit-dir record must agree on one spelling.
    urlparse handles all three spellings (``file:/p``, ``file:///p``,
    ``file://localhost/p``) — a naive ``file://`` prefix strip missed
    the single-slash form Hadoop's ``Path.toString`` emits and folded
    an authority into the path."""
    if not root.startswith("file:"):
        return root
    from urllib.parse import urlparse

    u = urlparse(root)
    if u.netloc not in ("", "localhost"):
        raise ValueError(
            f"file: URI with a non-local authority {u.netloc!r} cannot "
            f"be a local store root: {root!r}")
    return u.path or "/"


def _walk_visible_files(path: str, missing_ok: bool = True) -> list[str]:
    """Local-posix recursive file listing with Spark's hidden-path rule
    and STRICT error semantics: any OSError during traversal raises
    (``os.walk`` swallows them by default — here that would silently
    drop a table from an adopted base snapshot, or files from a pruned
    read's listing, turning a transient EACCES into permanently missing
    rows).  A confirmed-absent root returns ``[]`` when ``missing_ok``
    (a legacy table that was never written); a missing COMMITTED data
    dir is corruption/lost-retention and raises instead.  The root
    probe is an explicit os.stat so only FileNotFoundError /
    NotADirectoryError count as confirmed-absent — os.path.isdir
    swallows EVERY OSError into False, which would re-conflate a
    root-level ESTALE/EIO with absence.  ``file:`` URIs normalize to
    their posix path (one helper, one rule)."""
    import stat as _stat

    path = _normalize_root(path)
    try:
        is_dir = _stat.S_ISDIR(os.stat(path).st_mode)
    except (FileNotFoundError, NotADirectoryError):
        is_dir = False
    if not is_dir:
        if missing_ok:
            return []
        raise StoreReadError(
            f"committed data directory missing: {path} (corruption, or "
            f"vacuumed past this reader's snapshot retention)")

    def _raise(err: OSError):
        raise err

    out: list[str] = []
    for base, subdirs, files in os.walk(path, onerror=_raise):
        subdirs[:] = [d for d in subdirs if not d.startswith(("_", "."))]
        out.extend(os.path.join(base, f) for f in files
                   if not f.startswith(("_", ".")))
    return out


def _locked(fn):
    """Decorator: run a mutating SonarStore method inside the store's
    single-writer commit-log mutation session (advisory lease +
    heartbeat, staged immutable dirs, ONE atomic multi-table commit) —
    the same protocol on every filesystem scheme."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._mutation_session():
            return fn(self, *args, **kwargs)
    return wrapper


# Store format history (marker file root/VERSION; see SonarStore.upgrade):
#   1 — pre-versioning: genomes written unpartitioned; dates possibly
#       strings; columns added later (e.g. submission_date — the same
#       column the reference's migrate/4.sql retrofits) may be absent.
#   2 — genomes conform to schemas.GENOMES and are partitioned
#       by date_month for scan pruning.
#   3 — current: profiles carry dna_bloom/aa_bloom 64-bit fingerprint
#       columns (match's necessary-condition prefilter; computed at
#       ingest, backfilled by migration for older stores).
SCHEMA_VERSION = 3

_SCHEMAS = {
    "genomes": schemas.GENOMES,
    "sequences": schemas.SEQUENCES,
    "profiles": schemas.PROFILES,
    "dna_variants": schemas.DNA_VARIANTS,
    "prot_variants": schemas.PROT_VARIANTS,
}


class SonarStore:
    def __init__(self, spark: SparkSession, root: str, ref_seq: str | None = None,
                 cds_list: list[CDS] | None = None,
                 sublineage_map: dict[str, list[str]] | None = None):
        self.spark = spark
        self.root = _normalize_root(root)
        self.ref_seq = ref_seq
        self.cds_list = cds_list or []
        self.sublineage_map = sublineage_map or {}
        # every root — local posix or remote scheme — mutates through
        # the same commit log (round 7 unification: one protocol, and
        # local stores get history/time travel too)
        from covsonar_spark.commitlog import CommitLog

        self._log = CommitLog(spark, self.root)
        # mutation-session state: staged dir lists per table, applied
        # over the base snapshot at commit time; the lock serializes
        # staging from ingest's concurrent append threads
        self._staged: dict[str, dict] | None = None
        self._staged_lock = threading.Lock()
        self._base_version: int = 0
        self._base_tables: dict[str, list[str]] = {}
        self._base_checkpoint: int | None = None
        self._commit_id: str | None = None   # pre-generated session id
        self._read_pin = threading.local()   # read_snapshot() pin
        # the mutation session is THREAD-SCOPED: only the opening
        # thread plus helpers it explicitly enrolls (_enrolled — the
        # ingest append/paranoid pool) resolve the staged view or may
        # stage writes.  Any other thread keeps reading the committed
        # snapshot (a concurrent reader must never observe uncommitted
        # dirs that a lost commit race then deletes), and a second
        # writer thread serializes on _session_mutex instead of
        # silently joining a foreign session.
        self._session_tids: set[int] = set()
        self._session_mutex = threading.Lock()

    # -- commit-log mutation session (every root) ---------------------------

    def _legacy_files(self, table: str) -> list[str]:
        """STRICT file listing of a legacy plain ``root/<table>`` dir —
        adoption must distinguish confirmed-absent ([]) from an FS
        failure (raise): a transient outage silently omitting a legacy
        table from the adopted base snapshot would drop that table from
        every later read, permanently (round-6 review, medium)."""
        path = self._path(table)
        if not _remote_scheme(self.root):
            # strict local walk: confirmed-absent → [], any OSError
            # raises (bare os.walk swallows them, which would drop the
            # table from the adopted snapshot exactly like the remote
            # non-strict listing this guard replaced)
            return _walk_visible_files(path, missing_ok=True)
        return hadoop_list_files(self.spark, path, strict=True)

    @contextlib.contextmanager
    def _mutation_session(self, lease_wait: float | None = None):
        """One atomic multi-table mutation: acquire the advisory writer
        lease (heartbeated so a live multi-hour mutation is never
        diagnosed stale), snapshot the base version, stage every
        ``_overwrite``/``_append`` as immutable uuid dirs, then publish
        ONE commit (put-if-absent — racing writers lose cleanly with
        StoreWriteConflict, never corrupt).  On failure the staged dirs
        are deleted best-effort; leftovers are invisible until vacuum()
        reaps them.  Reentrant WITHIN the session's threads: a mutation
        calling another @_locked method (remove → _gc_orphans) joins
        the open session and its changes ride the same commit; a
        DIFFERENT thread opening a session serializes on the in-process
        session mutex (plus the cross-process lease) instead of
        silently riding a foreign commit."""
        import uuid as _uuid

        if (self._staged is not None
                and threading.get_ident() in self._session_tids):
            yield                      # reentrant: join the open session
            return
        # EVERYTHING after the mutex acquire runs under one finally:
        # an exception anywhere — lease acquisition, the strict legacy
        # adoption walk, even heartbeat startup — must release the
        # mutex, stop the heartbeat, and drop the lease, or every
        # later mutation on this handle deadlocks and other processes
        # can never break the orphaned (still-heartbeating) lease
        wait = 600.0 if lease_wait is None else lease_wait
        if not self._session_mutex.acquire(timeout=wait):
            # symmetric with the cross-process lease timeout below: a
            # wedged writer THREAD on this handle must fail other
            # threads with the same diagnostic a wedged writer PROCESS
            # gives other processes, not block them forever
            raise TimeoutError(
                f"another thread holds this handle's mutation session "
                f"(waited {wait:.0f}s)")
        owner: str | None = None
        stop_hb: threading.Event | None = None
        try:
            owner = self._log.acquire_lease(timeout=wait)
            stop_hb = threading.Event()
            hb_stop = stop_hb

            def _heartbeat():
                while not hb_stop.wait(900.0):
                    self._log.heartbeat(owner)
            hb = threading.Thread(target=_heartbeat, daemon=True)
            hb.start()
            snap = self._log.latest()
            if snap is not None:
                self._base_version, self._base_tables = snap[0], snap[1]
                self._base_checkpoint = getattr(snap, "checkpoint", None)
            else:
                # first mutation on a log-less root: ADOPT any legacy
                # plain-directory tables (written by the pre-log engine,
                # or by external tools) as the base snapshot — the commit
                # references them verbatim; vacuum reaps an adopted dir
                # only once no retained snapshot references it
                self._base_version, self._base_tables = 0, {}
                self._base_checkpoint = None    # first commit: full
                for t in TABLES:
                    if self._legacy_files(t):
                        self._base_tables[t] = [self._path(t)]
                    elif not _remote_scheme(self.root):
                        # pre-unification crash artifacts (the old posix
                        # rename-pair protocol): a completed ``.tmp``
                        # (fully written before any rename) or the
                        # ``.old`` pre-swap snapshot IS the table —
                        # adopt it instead of silently dropping the data
                        final = self._path(t)
                        tmp, old = final + ".tmp", final + ".old"
                        if os.path.isdir(tmp) and os.path.exists(
                                os.path.join(tmp, "_SUCCESS")):
                            self._base_tables[t] = [tmp]
                        elif os.path.isdir(old):
                            self._base_tables[t] = [old]
            # the commit id is pre-generated so derived data written
            # inside the session (manifest pins) can reference it BEFORE
            # the commit: if this session loses the commit race, its id
            # never appears in any published commit and the pins never
            # match
            self._commit_id = _uuid.uuid4().hex
            self._session_tids = {threading.get_ident()}
            self._staged = {}
            try:
                yield
                if self._staged:
                    tables = {t: list(dirs) for t, dirs in
                              self._base_tables.items()}
                    for t, st in self._staged.items():
                        base = [] if st["replace"] else tables.get(t, [])
                        tables[t] = base + st["dirs"]
                    self._log.commit(
                        self._base_version, tables,
                        commit_id=self._commit_id,
                        base_tables=self._base_tables,
                        base_checkpoint=self._base_checkpoint)
            except BaseException as exc:
                from covsonar_spark.commitlog import \
                    StoreCommitIndeterminate
                if not isinstance(exc, StoreCommitIndeterminate):
                    # an INDETERMINATE publish may still land — deleting
                    # the staged dirs would dangle a published snapshot;
                    # vacuum's min-age floor reaps them iff it never does
                    for st in (self._staged or {}).values():
                        for d in st["dirs"]:
                            try:
                                self._log.fs.delete(d)
                            except Exception:  # noqa: BLE001 — vacuum
                                pass
                raise
        finally:
            self._staged = None
            self._base_tables = {}
            self._base_checkpoint = None
            self._commit_id = None
            self._session_tids = set()
            if stop_hb is not None:
                stop_hb.set()
            if owner is not None:
                try:
                    self._log.release_lease(owner)
                except Exception:  # noqa: BLE001 — a py4j/FS hiccup
                    # here must not skip the mutex release below (the
                    # deadlock this finally exists to prevent) nor mask
                    # the body's exception; the unreleased lease goes
                    # stale and is broken by the next writer
                    pass
            self._session_mutex.release()

    def _data_area(self, name: str) -> str:
        """Commit-log data dirs live under ``root/_data/<table>/`` —
        SEPARATE from the legacy plain ``root/<table>/`` path, so an
        adopted legacy directory is never re-listed through a staged
        sibling, and the underscore keeps naive whole-root globs from
        double-reading log-managed files."""
        return f"{self.root.rstrip('/')}/_data/{name}"

    def _in_session(self) -> bool:
        """True when the CALLING THREAD belongs to the open mutation
        session (opener or an ``_enrolled`` helper).  Other threads of
        the same handle keep resolving the committed snapshot — they
        must never observe staged dirs that a lost commit race then
        deletes."""
        return (self._staged is not None
                and threading.get_ident() in self._session_tids)

    def _enrolled(self, fn):
        """Wrap ``fn`` so the pool thread that executes it is enrolled
        in the open mutation session for the duration: its reads
        resolve the session view (ingest's paranoid round-trip reads
        the dna_variants rows staged moments earlier) and its writes
        may stage.  Threads never enrolled — a concurrent reader on a
        shared handle — keep the committed snapshot."""
        def run(*args, **kwargs):
            tid = threading.get_ident()
            fresh = tid not in self._session_tids
            if fresh:
                self._session_tids.add(tid)
            try:
                return fn(*args, **kwargs)
            finally:
                if fresh:
                    self._session_tids.discard(tid)
        return run

    def _live_dirs(self, name: str) -> list[str] | None:
        """The committed (plus session-staged) data directories of
        ``name``; None when the log holds no commit (legacy
        plain-directory layout)."""
        if self._in_session():            # inside a mutation session
            dirs = list(self._base_tables.get(name, []))
            st = self._staged.get(name)
            if st is not None:
                dirs = ([] if st["replace"] else dirs) + st["dirs"]
            return dirs
        snap = getattr(self._read_pin, "snap", None)
        if snap is None:
            snap = self._log.latest()
        if snap is None:
            return None                   # legacy plain-directory layout
        return list(snap[1].get(name, []))

    @contextlib.contextmanager
    def read_snapshot(self):
        """Cross-table snapshot isolation for a multi-table read plan:
        every table resolved inside the block sees ONE commit version.
        Without it, each table() resolves the then-latest commit, so a
        writer landing between the genomes and profiles resolutions of
        one essence plan could pair new genomes with old profiles —
        the posix layout cannot avoid that (per-table swaps); the
        atomic multi-table commit makes fixing it one pin.  Dirs are
        immutable, so the pinned plan stays valid for the vacuum
        retention window.  No-op on legacy layouts (latest() is None);
        thread-local so concurrent readers on one store handle don't
        share pins.  An ENCLOSING pin (``at_version`` time travel, or
        an outer read_snapshot) is preserved, never clobbered — a
        ``var2vcf --at-version`` export must keep reading the pinned
        historical commit through export_vcf's own read_snapshot, not
        silently jump to latest."""
        prev = getattr(self._read_pin, "snap", None)
        self._read_pin.snap = prev if prev is not None else \
            self._log.latest()
        try:
            yield
        finally:
            self._read_pin.snap = prev

    def _stage_write(self, name: str, df: DataFrame, replace: bool,
                     shape: bool = True) -> None:
        """Write ``df`` as a fresh immutable data dir and record it in
        the open mutation session (commit-log protocol write path)."""
        import uuid as _uuid

        if not self._in_session():
            raise RuntimeError(
                "commit-log table writes must run inside a mutation "
                "session (@_locked method, on the session's own threads "
                "— see _enrolled) — direct _overwrite/_append outside "
                "one would publish nothing")
        out = df
        if shape and name != "genomes":
            out = df.repartition(
                max(1, df.rdd.getNumPartitions() // 4 or 1), "seqhash")
        # genomes stay UNPARTITIONED on commit-log stores: object-store
        # layouts skip directory partitioning (tiny-file explosion,
        # slow renames) — the genomes manifest's per-file date min/max
        # subsumes month pruning, the same trade Delta/Iceberg make
        # (file statistics over hive partitions)
        d = f"{self._data_area(name)}/c-{_uuid.uuid4().hex[:12]}"
        out.write.mode("error").parquet(d)
        with self._staged_lock:
            st = self._staged.setdefault(
                name, {"replace": False, "dirs": []})
            if replace:
                st["replace"] = True
                st["dirs"] = [d]
            else:
                st["dirs"].append(d)

    # -- db bootstrap (S10) ------------------------------------------------

    @classmethod
    def open(cls, spark: SparkSession, root: str, ref_path: str | None = None,
             gff_path: str | None = None,
             lineage_tsv: str | None = None) -> "SonarStore":
        """Open (or initialize) a store directory. On first open the
        reference FASTA / GFF3 / lineage TSV are copied into
        ``root/assets/`` so later commands need only ``root`` (the
        reference embeds these in its package; the engine keeps them
        with the data)."""
        import shutil

        from covsonar_spark.functions.genetics import (harmonize, parse_gff3,
                                                       read_fasta_one)
        from covsonar_spark.operators.lineage import load_sublineage_map

        if _remote_scheme(root):
            return cls._open_remote(spark, root, ref_path, gff_path,
                                    lineage_tsv)
        root = _normalize_root(root)
        assets = os.path.join(root, "assets")
        os.makedirs(assets, exist_ok=True)
        for src, name in ((ref_path, "ref.fna"), (gff_path, "ref.gff3"),
                          (lineage_tsv, "lineage.tsv")):
            dst = os.path.join(assets, name)
            if src and not os.path.exists(dst):
                shutil.copy(src, dst)
        ref_file = os.path.join(assets, "ref.fna")
        gff_file = os.path.join(assets, "ref.gff3")
        lin_file = os.path.join(assets, "lineage.tsv")
        ref = None
        cds = []
        sub = {}
        if os.path.exists(ref_file):
            _, _, ref = read_fasta_one(ref_file)
            ref = harmonize(ref)
            if os.path.exists(gff_file):
                cds = parse_gff3(gff_file, ref)
        if os.path.exists(lin_file):
            sub = load_sublineage_map(lin_file)
        cls.upgrade(spark, root)
        return cls(spark, root, ref, cds, sub)

    @classmethod
    def _open_remote(cls, spark: SparkSession, root: str,
                     ref_path: str | None, gff_path: str | None,
                     lineage_tsv: str | None) -> "SonarStore":
        """open() for a remote-scheme root: assets persist through the
        Hadoop FS (sources are local files as on the posix path), and
        are staged to a local temp file for the existing parsers."""
        import tempfile

        from covsonar_spark.commitlog import HadoopFS
        from covsonar_spark.functions.genetics import (harmonize, parse_gff3,
                                                       read_fasta_one)
        from covsonar_spark.operators.lineage import load_sublineage_map

        fs = HadoopFS(spark, root)
        assets = f"{root.rstrip('/')}/assets"
        for src, name in ((ref_path, "ref.fna"), (gff_path, "ref.gff3"),
                          (lineage_tsv, "lineage.tsv")):
            dst = f"{assets}/{name}"
            if src and not fs.exists(dst):
                with open(src, "rb") as fh:
                    fs.write_bytes(dst, fh.read())

        def _local(name: str) -> str | None:
            p = f"{assets}/{name}"
            if not fs.exists(p):
                return None
            tmp = tempfile.NamedTemporaryFile(
                suffix="-" + name, delete=False)
            tmp.write(fs.read_bytes(p))
            tmp.close()
            return tmp.name

        ref = None
        cds = []
        sub = {}
        ref_file = _local("ref.fna")
        if ref_file:
            _, _, ref = read_fasta_one(ref_file)
            ref = harmonize(ref)
            gff_file = _local("ref.gff3")
            if gff_file:
                cds = parse_gff3(gff_file, ref)
        lin_file = _local("lineage.tsv")
        if lin_file:
            sub = load_sublineage_map(lin_file)
        cls.upgrade(spark, root)
        return cls(spark, root, ref, cds, sub)

    # -- schema versioning / migration (S11) -------------------------------

    @classmethod
    def version(cls, root: str, spark: SparkSession | None = None) -> int:
        """Stored schema version (reference: ``PRAGMA user_version``,
        lib/sonardb.py:1369-1381). Stores from before versioning (tables
        exist but no VERSION marker) report 1; a fresh directory reports
        the current version (nothing to migrate).  Remote-scheme roots
        need ``spark`` (the marker is read through the Hadoop FS)."""
        if _remote_scheme(root):
            if spark is None:
                raise ValueError(
                    f"reading the schema version of remote root {root!r} "
                    f"needs a SparkSession (Hadoop FS access)")
            from covsonar_spark.commitlog import HadoopFS

            fs = HadoopFS(spark, root)
            vf = f"{root.rstrip('/')}/VERSION"
            if fs.exists(vf):
                return int(fs.read_bytes(vf).decode().strip())
            has_tables = any(
                fs.exists(f"{root.rstrip('/')}/{t}") for t in TABLES)
            return 1 if has_tables else SCHEMA_VERSION
        root = _normalize_root(root)
        vf = os.path.join(root, "VERSION")
        if os.path.exists(vf):
            with open(vf) as fh:
                return int(fh.read().strip())
        # a marker-less store that crashed mid-swap under the OLD posix
        # protocol (only ``.old`` / completed ``.tmp`` artifacts left)
        # is still a pre-versioning store — missing it here would skip
        # every migration while the artifact gets adopted unmigrated
        has_tables = any(
            os.path.exists(os.path.join(root, t))
            or os.path.isdir(os.path.join(root, t + ".old"))
            or os.path.exists(os.path.join(root, t + ".tmp", "_SUCCESS"))
            for t in TABLES)
        return 1 if has_tables else SCHEMA_VERSION

    @classmethod
    def upgrade(cls, spark: SparkSession, root: str) -> tuple[int, int]:
        """Stepwise store migration (reference ``upgrade_db``,
        lib/sonardb.py:1383-1421 + lib/migrate/<v>.sql): apply every
        pending migration in order, recording the version marker after
        each step so an interrupted upgrade resumes where it stopped.
        Returns (version_before, version_after); refuses stores written
        by a newer engine.

        Remote-scheme roots: only the version check + first-open marker
        write — a pre-current store on a remote root must be migrated
        through a posix mount (the migrations predate the commit-log
        protocol, so no remote store written by an older engine exists;
        the refusal is a guard against foreign layouts)."""
        if _remote_scheme(root):
            from covsonar_spark.commitlog import HadoopFS

            before = cls.version(root, spark)
            if before > SCHEMA_VERSION:
                raise ValueError(
                    f"store schema version {before} is newer than this "
                    f"engine supports ({SCHEMA_VERSION}) — upgrade the "
                    f"engine, not the store")
            if before < SCHEMA_VERSION:
                raise ValueError(
                    f"remote root {root!r} holds a pre-version-"
                    f"{SCHEMA_VERSION} layout; run db-upgrade against a "
                    f"posix mount of it first")
            fs = HadoopFS(spark, root)
            vf = f"{root.rstrip('/')}/VERSION"
            if not fs.exists(vf):
                fs.write_bytes(vf, f"{SCHEMA_VERSION}\n".encode())
            return before, SCHEMA_VERSION
        root = _normalize_root(root)
        os.makedirs(root, exist_ok=True)
        # lock-free fast path: a current store with its marker present
        # needs no migration and no marker write — read-only flows
        # (match/restore/info) must not block behind a writer's lease
        if (cls.version(root) == SCHEMA_VERSION
                and os.path.exists(os.path.join(root, "VERSION"))):
            return SCHEMA_VERSION, SCHEMA_VERSION
        before = cls.version(root)
        if before > SCHEMA_VERSION:
            raise ValueError(
                f"store schema version {before} is newer than this engine "
                f"supports ({SCHEMA_VERSION}) — upgrade the engine, not the store")
        store = cls(spark, root)
        for v in range(before + 1, SCHEMA_VERSION + 1):
            # each migration is ONE atomic commit under the writer
            # lease; the marker written after it makes an interrupted
            # upgrade resume exactly where it stopped
            with store._mutation_session():
                _MIGRATIONS[v](store)
            cls._write_version(root, v)
        if before == SCHEMA_VERSION and not os.path.exists(os.path.join(root, "VERSION")):
            cls._write_version(root, SCHEMA_VERSION)
        return before, SCHEMA_VERSION

    @staticmethod
    def _write_version(root: str, v: int) -> None:
        tmp = os.path.join(root, "VERSION.tmp")
        with open(tmp, "w") as fh:
            fh.write(f"{v}\n")
        os.replace(tmp, os.path.join(root, "VERSION"))

    @_locked
    def optimize(self, rows_per_file: int = 500_000) -> dict:
        """P6 — compaction (reference VACUUM, lib/sonardb.py:2090-2093):
        rewrite each table into size-appropriate files. Genomes are
        additionally sorted by (lineage, date) on write so parquet
        row-group min/max stats cluster the two hottest match
        predicates (a poor man's Z-order — the reference's 17 B-tree
        indexes collapse into scan statistics).  Profiles are
        range-clustered by their position-sorted profile STRING:
        same-lineage genomes share long token prefixes, so lexicographic
        clustering shrinks each file's token vocabulary — exactly what
        makes the file-skipping manifest selective (a random shard
        saturates any per-file fingerprint).  Appends keep the cheap
        seqhash layout; clustering is an optimize-time decision, like
        Delta's OPTIMIZE ZORDER."""
        out = {}
        for t in TABLES:
            if not self._live_dirs(t):   # inside the session this is
                continue                 # the adopted+staged dir list
            df = self.table(t)
            n = df.count()
            parts = max(1, n // rows_per_file)
            if t == "genomes":
                df = df.repartitionByRange(parts, "lineage", "date") \
                       .sortWithinPartitions("lineage", "date")
                self._overwrite(t, df)
                out[t] = parts
                continue
            if t == "profiles":
                key = F.concat_ws(" ", "dna_profile")
                df = df.repartitionByRange(parts, key) \
                       .sortWithinPartitions(key)
                self._overwrite(t, df, shape=False)
                out[t] = parts
                continue
            self._overwrite(t, df.coalesce(parts))
            out[t] = parts
        # refresh the file-skipping manifests over the compacted layout
        # (stats are derived data — cheap to rebuild, safe when stale);
        # the (lineage, date) genome clustering above is exactly what
        # makes the genomes manifest's min/max stats selective
        if "profiles" in out:
            out["manifest_files"] = self.build_manifest("profiles")
        if "genomes" in out:
            out["genomes_manifest_files"] = self.build_manifest("genomes")
        # reap dirs superseded past the retention window and
        # uncommitted garbage from crashed/conflicted writers (the
        # VACUUM half of the reference's optimize,
        # lib/sonardb.py:2090-2093).  legacy_paths: plain pre-log dirs
        # (and pre-unification .old/.tmp crash artifacts) adopted into
        # the log are reaped once no retained snapshot references them
        # — without this a replaced 100 TB legacy table would strand a
        # full stale copy forever
        out["vacuumed_dirs"] = self._log.vacuum(
            {t: self._data_area(t) for t in TABLES},
            legacy_paths=self._legacy_vacuum_paths())
        return out

    def _legacy_vacuum_paths(self) -> dict[str, str]:
        """Every pre-log location an adopted table may still live at —
        the plain dir plus the pre-unification ``.old``/``.tmp`` crash
        artifacts — built in ONE place so optimize() and the standalone
        vacuum can never drift on what counts as reapable."""
        legacy = {}
        for t in TABLES:
            legacy[t] = self._path(t)
            legacy[f"{t}.old"] = self._path(t) + ".old"
            legacy[f"{t}.tmp"] = self._path(t) + ".tmp"
        return legacy

    def vacuum(self, retain_last: int = 2,
               min_age_s: float = 3600.0,
               lease_wait: float | None = None) -> int:
        """Standalone GC: reap data dirs no retained commit references
        (uncommitted garbage from crashed/conflicted writers, versions
        past retention, superseded adopted legacy dirs).  Runs inside a
        mutation session — which stages nothing and therefore commits
        nothing — purely to HOLD THE WRITER LEASE: an unleased vacuum
        could reap a concurrent in-flight mutation's staged dirs once
        they out-age the min-age floor (multi-hour mutations are
        exactly why lease holders heartbeat), and that mutation would
        then publish a snapshot referencing deleted dirs.

        ``lease_wait`` defaults to OUTLASTING the lease staleness
        threshold (3600s) plus the default acquire wait: a crashed
        writer's lease only becomes breakable after 3600s of mtime age,
        and post-crash GC is vacuum's primary job — a 600s wait would
        TimeoutError for up to ~50 minutes after every writer crash."""
        if lease_wait is None:
            lease_wait = 3600.0 + 600.0
        with self._mutation_session(lease_wait=lease_wait):
            return self._log.vacuum(
                {t: self._data_area(t) for t in TABLES},
                retain_last=retain_last, min_age_s=min_age_s,
                legacy_paths=self._legacy_vacuum_paths())

    # -- file-skipping manifest (beyond-parity scale feature) -------------

    # per-table manifest contents: profiles carry token-vocabulary
    # blooms (the include-profile skip), genomes carry min/max stats of
    # the reference's hottest indexed metadata columns
    # (/root/reference/lib/db.sqlite:34-50 B-trees → file statistics)
    _MANIFEST_SPEC = {
        "profiles": {"token_cols": ("dna_profile", "aa_profile"),
                     "key_cols": ("seqhash",)},
        "genomes": {"token_cols": (),
                    "key_cols": ("lineage", "date", "submission_date",
                                 "zip", "ct")},
    }

    def build_manifest(self, table: str = "profiles",
                       incremental: bool = True) -> int:
        """Build the file-level data-skipping manifest for ``table``
        (sources/manifest.py): per-file row counts, key-column min/max
        and (for profiles) wide token blooms, persisted under
        ``root/manifests/``.  Returns the number of data files covered.
        Derived data: staleness is SAFE (``pruned_table`` never prunes
        a file the manifest does not cover), so a simple overwrite
        suffices — no rename protocol.

        On a commit-log store with an existing manifest, the build is
        INCREMENTAL by default: log data dirs are immutable, so
        surviving rows (files under still-live dirs) are reused
        verbatim and stats run only over the dirs added since the
        previous build — manifest maintenance is O(delta), not
        O(table), which is what makes refreshing it inside every
        ingest affordable at 100 TB.  ``incremental=False`` forces a
        full rebuild (e.g. after changing _MANIFEST_SPEC)."""
        from covsonar_spark.sources.manifest import build_manifest as _bm

        spec = self._MANIFEST_SPEC.get(table)
        if spec is None:
            raise ValueError(f"no manifest spec for table {table!r}")
        dirs = self._live_dirs(table)
        if dirs is not None and not dirs:
            return 0        # empty log table: nothing to cover
        surviving = None
        if incremental and dirs is not None:
            old = self._manifest(table)
            if old is not None:
                live_norm = {norm_uri(d) for d in dirs}

                def _parent(uri: str) -> str:
                    return norm_uri(uri).rsplit("/", 1)[0]
                try:
                    old_rows = old.collect()        # tiny: one row/file
                except Exception:  # noqa: BLE001 — mid-rebuild: full
                    old_rows = None
                if old_rows is not None:
                    covered_dirs = {_parent(r["file"]) for r in old_rows}
                    new_dirs = [d for d in dirs
                                if norm_uri(d) not in covered_dirs]
                    keep = [r for r in old_rows
                            if _parent(r["file"]) in live_norm]
                    if len(new_dirs) < len(dirs) and keep:
                        surviving = self.spark.createDataFrame(
                            keep, old.schema)
                        dirs = new_dirs
        if dirs is not None and not dirs and surviving is not None:
            man = surviving                 # pure-compaction edge: no
            #                                 new dirs, all rows survive
        else:
            man = _bm(self.spark,
                      dirs if dirs is not None else self._path(table),
                      **spec)
            if surviving is not None:
                man = man.unionByName(surviving)
        mpath = os.path.join(self.root, "manifests", table)
        man.coalesce(1).write.mode("overwrite").parquet(mpath)
        # pin the manifest to the UNIQUE id of the commit whose
        # IMMUTABLE dir set it covered: while that commit is still the
        # log's latest, the manifest's own file column IS the complete
        # live file set and match-time pruning needs ZERO listing
        # calls.  Mid-session (ingest/optimize) the pin is the
        # session's pre-generated commit id; if this session LOSES the
        # commit race, a racing winner publishes the same version
        # NUMBER but a different id, so the loser's pin (covering its
        # now-deleted staged dirs) can never satisfy
        # _manifest_current_files — pinning to the version number had
        # exactly that hole (round-6 review, high).
        import json as _json

        if self._in_session():
            v, cid = self._base_version + 1, self._commit_id
        else:
            snap = self._log.latest()
            v, cid = (snap[0], snap[2]) if snap is not None else (0, None)
        if cid is not None:
            self._log.fs.write_bytes(
                f"{mpath}.meta.json",
                _json.dumps({"commit_version": v,
                             "commit_id": cid}).encode())
        try:
            # row count from the written footers — no second Spark job
            import pyarrow.dataset as ds

            return ds.dataset(mpath, format="parquet").count_rows()
        except Exception:  # noqa: BLE001 — pyarrow can't open remote
            # schemes (viewfs/hdfs/s3a): count via a tiny Spark job
            # over the one-file manifest instead
            return self.spark.read.parquet(mpath).count()

    def _data_files(self, table: str) -> list[str]:
        """Data files of ``table`` listed via the Hadoop FileSystem API
        (scheme-portable; marker/staging paths filtered with Spark's
        hidden-path rule — an explicit file list must apply it or a
        pruned read would ingest uncommitted attempt files).  On a
        commit-log store only the LIVE directory set is listed —
        uncommitted/superseded c-* dirs never leak into a pruned read."""
        dirs = self._live_dirs(table)
        if dirs is None:
            if not _remote_scheme(self.root):
                # local fast path: os.scandir walk, no py4j per-file
                # round-trips (the round-5 verdict's listing-cliff
                # note) — strict, so an FS error fails the pruned read
                # instead of silently omitting that dir's rows
                return _walk_visible_files(self._path(table),
                                           missing_ok=True)
            return hadoop_list_files(self.spark, self._path(table))
        out = []
        for d in dirs:
            if not _remote_scheme(d) and not _remote_scheme(self.root):
                # local fast path over log dirs too; a COMMITTED dir
                # that fails to list (or is gone) raises — these files
                # feed the pruned==unpruned contract, where a silent
                # omission means silently missing rows
                out.extend(_walk_visible_files(d, missing_ok=False))
            else:
                out.extend(hadoop_list_files(self.spark, d))
        return out

    def _manifest_current_files(self, table: str) -> bool:
        """True when the manifest's pinned commit ID is the commit the
        read resolves — the manifest's file column is then the COMPLETE
        live file set (dirs are immutable), so pruning needs no listing
        at all.  False on log-less layouts, unpinned manifests, or any
        read failure (fallback: list).  The pin compares commit IDs,
        never version numbers: a manifest written inside a mutation
        that lost the commit race pins an id no published commit ever
        carries, while the winner's same-NUMBERED commit would have
        satisfied a version-number pin and resolved the loser's
        deleted/uncommitted file set (round-6 review, high)."""
        meta = f"{os.path.join(self.root, 'manifests', table)}.meta.json"
        try:
            import json as _json

            pinned = _json.loads(
                self._log.fs.read_bytes(meta).decode())["commit_id"]
            # compare against the SAME snapshot _live_dirs resolves —
            # under read_snapshot() that is the pinned version, and a
            # manifest rebuilt for a newer commit must NOT shortcut a
            # pinned older read onto the newer file set
            snap = getattr(self._read_pin, "snap", None)
            if snap is None:
                snap = self._log.latest()
        except Exception:  # noqa: BLE001 — no pin / unreadable: list
            return False
        return (snap is not None and pinned is not None
                and snap[2] == pinned)

    def pruned_table(self, table: str, bloom_col: str,
                     tokens: list[str]) -> DataFrame:
        """``table`` scanned through the file manifest: files whose
        vocabulary bloom cannot contain the AND group of LITERAL tokens
        are skipped before the scan.  Lossless BY CONSTRUCTION against
        the literal ``array_contains`` conjunction (and even against a
        stale manifest: uncovered files are always kept); callers still
        apply the exact predicate.  NOTE: tokens are taken verbatim —
        no IUPAC expansion.  A query in the engine's full profile
        grammar (ambiguity codes, wildcard rewrites) must go through
        ``match()``/``_match_profiles``, which prune on the
        ``rewrite_profiles`` expansion sets.  Falls back to the full
        table when no manifest exists."""
        from covsonar_spark.sources.manifest import file_group_condition

        man = self._manifest(table)
        if man is None:
            return self.table(table)
        # field kind drives the reference's trailing-N/X wildcard-OR
        # quirk inside file_group_condition (it can only WEAKEN the
        # prune — AND flips to OR — so literal-token losslessness holds
        # either way); derive it from the column
        field = "dna" if bloom_col.startswith("dna") else "aa"
        cond = file_group_condition(
            [{field: [[t] for t in tokens]}], {field: bloom_col})
        return self._prune_with(table, man, cond)

    def _manifest(self, table: str) -> DataFrame | None:
        mpath = os.path.join(self.root, "manifests", table)
        # local roots: cheap isdir probe so every manifest-less match()
        # doesn't pay an exception-driven Spark read attempt; remote
        # schemes have no os.* probe and go straight to the read
        if not _remote_scheme(self.root) and not os.path.isdir(mpath):
            return None
        try:
            return self.spark.read.parquet(mpath)
        except Exception:  # noqa: BLE001 — absent or unreadable
            # manifest: derived data, degrade to the unpruned scan
            return None

    def _prune_with(self, table: str, man: DataFrame, cond) -> DataFrame:
        """Staleness-safe file selection: keep files passing ``cond``
        plus every data file the manifest does not cover (appended
        since the last build) — a stale manifest costs extra reads,
        never rows.  ``cond`` None means nothing is prunable.  Any
        failure reading the manifest (e.g. a concurrent rebuild's
        overwrite) degrades to the unpruned table — the manifest is
        an accelerator, never a correctness dependency."""
        if cond is None:
            return self.table(table)
        try:  # one collect: (file, keep-bit) over the tiny manifest
            rows = man.select("file", cond.alias("keep")).collect()
        except Exception:  # noqa: BLE001 — manifest mid-rebuild
            return self.table(table)
        # norm_uri both sides: input_file_name() yields percent-encoded
        # URIs, the Hadoop listing yields qualified URIs — un-normalized
        # they never match and pruning silently no-ops
        covered = {norm_uri(r["file"]) for r in rows}
        # prune only on a definite False: a NULL verdict (e.g. a bloom
        # array whose width disagrees with the query side, making
        # element_at return NULL) must KEEP the file — the lossless
        # direction — not skip rows the exact predicate would match
        kept = {norm_uri(r["file"]) for r in rows if r["keep"] is not False}
        if self._manifest_current_files(table):
            # manifest pinned to the CURRENT commit: its file column is
            # the complete live set (immutable dirs) — zero listing on
            # the hot path; the raw manifest URIs feed a schema-pinned
            # reader (no inference job)
            files = [r["file"] for r in rows if norm_uri(r["file"]) in kept]
            if not files:
                return self.table(table).limit(0)
            return self._project(
                table,
                self.spark.read.schema(_SCHEMAS[table]).parquet(*files))
        actual = self._data_files(table)
        if not actual:
            # table dir absent or empty on disk (possibly mid-swap):
            # defer to table(), whose old-snapshot-or-new protocol —
            # not an empty frame — is the reader contract
            return self.table(table)
        files = [p for p in actual
                 if norm_uri(p) in kept or norm_uri(p) not in covered]
        if not files:
            return self.table(table).limit(0)
        reader = self.spark.read
        if self._live_dirs(table) is None:
            # plain layout: basePath keeps hive partition columns
            # (genomes' date_month) resolvable from the file list;
            # commit-log dirs are unpartitioned and span multiple
            # roots, where no single basePath applies
            reader = reader.option(
                "basePath", hadoop_qualify(self.spark, self._path(table)))
        return self._project(table, reader.parquet(*files))

    # -- table IO ---------------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def history(self, limit: int | None = None) -> list[dict]:
        """Commit history of the store (newest last): version, commit
        time, per-table dir counts.  Empty on legacy (pre-log) layouts
        until their first mutation adopts them.  ``limit`` returns only
        the newest n commits while READING only those commit files — a
        10k-commit log must not cost 10k object reads to show the last
        20 (one listing bounds it either way)."""
        vs = self._log.versions()
        if limit is not None:
            # clamp, never wrap: limit > len must return everything,
            # not a negative-index slice of the tail
            vs = vs[max(len(vs) - max(limit, 0), 0):]
        # one forward walk resolves delta commits through their shared
        # checkpoint chain: reads ≤ limit + CHECKPOINT_INTERVAL, never
        # O(log length)
        resolved = self._log.resolve_range(vs)
        out = []
        for v in vs:
            info = resolved.get(v)
            if info is None:           # vacuumed under us
                continue
            out.append({"version": v,
                        "committed_at": info.get("committed_at"),
                        "tables": {t: len(d) for t, d in
                                   info.get("tables", {}).items()}})
        return out

    def table_at(self, name: str, version: int) -> DataFrame:
        """Time travel: ``name`` as of commit ``version`` (Delta's
        ``VERSION AS OF``) — on ANY root since the round-7 protocol
        unification.  Valid while vacuum retention still holds that
        version's dirs (vacuum defaults keep the last 2 versions and an
        age floor).  Raises ValueError for a version never committed or
        vacuumed past retention."""
        return self._read_dirs(name, self._log.snapshot(version).get(name, []))

    def table(self, name: str) -> DataFrame:
        """The current table: resolve the live directory set from the
        newest commit (old-snapshot-or-new — a concurrent writer's
        staged dirs are invisible until its atomic commit rename
        lands) and read it through :meth:`_read_dirs`.  A log-less root
        falls back to the LEGACY plain-layout read: the final dir, else
        a pre-unification crash artifact (completed ``.tmp`` / ``.old``
        snapshot), else empty — with the strict-listing guard so a
        transient FS failure raises StoreReadError instead of silently
        reporting 0 rows."""
        path = self._path(name)
        try:
            dirs = self._live_dirs(name)
        except Exception as exc:  # noqa: BLE001 — unreachable mount
            raise StoreReadError(
                f"commit log of {self.root} unreadable (filesystem "
                f"error, NOT a confirmed-absent store): {exc}") from exc
        if dirs is not None:
            return self._read_dirs(name, dirs)
        # legacy plain-directory layout (no commit yet)
        if not _remote_scheme(self.root):
            if os.path.isdir(path):
                try:
                    return self._project(name, self.spark.read.parquet(path))
                except Exception:  # noqa: BLE001
                    # a pre-unification mid-swap artifact may pair a
                    # torn final dir with an intact .old pre-swap
                    # snapshot — serve the snapshot, never empty
                    if os.path.isdir(path + ".old"):
                        try:
                            return self._project(
                                name,
                                self.spark.read.parquet(path + ".old"))
                        except Exception:  # noqa: BLE001
                            pass
                    if self._dir_has_data(path):
                        raise StoreReadError(
                            f"table '{name}' at {path} holds data files "
                            f"but could not be read")
                    return self.spark.createDataFrame([], _SCHEMAS[name])
            tmp, old = path + ".tmp", path + ".old"
            for cand in (tmp if os.path.exists(
                    os.path.join(tmp, "_SUCCESS")) else None, old):
                if cand and os.path.isdir(cand):
                    try:
                        raw = self.spark.read.parquet(cand)
                    except Exception:  # noqa: BLE001 — empty/torn artifact
                        continue
                    try:
                        return self._project(name, raw)
                    except Exception as exc:  # noqa: BLE001
                        # readable artifact, pre-current SCHEMA: raising
                        # beats silently serving an empty table for data
                        # that is sitting right there
                        raise StoreReadError(
                            f"table '{name}' crash artifact at {cand} has "
                            f"a pre-current schema — run db-upgrade on "
                            f"{self.root}") from exc
            return self.spark.createDataFrame([], _SCHEMAS[name])
        try:
            return self._project(name, self.spark.read.parquet(path))
        except Exception:  # noqa: BLE001
            # strict listing: only a CONFIRMED-absent path may fall
            # through to the empty table — a transient FS outage
            # (listing also failing) raises StoreReadError instead
            # of silently returning 0 rows (round-5 review, medium)
            if hadoop_list_files(self.spark, path, strict=True):
                raise StoreReadError(
                    f"table '{name}' at {path} holds data files but "
                    f"could not be read")
            return self.spark.createDataFrame([], _SCHEMAS[name])

    def _read_dirs(self, name: str, dirs: list[str]) -> DataFrame:
        """``name`` over one committed directory set: every log-written
        ``_data/<name>/c-*`` dir in ONE schema-pinned scan — no
        per-directory schema-inference job, and one FileScan instead of
        a k-way Union.  Adopted legacy dirs (the plain ``root/<name>``
        path, ``.tmp``/``.old`` crash artifacts) may carry the
        ``date_month`` partition column or a pre-current schema, so they
        keep their own inferring read, unioned onto the scan.

        A pinned schema would read a committed dir whose data files
        vanished as zero rows (inference used to fail on it), so every
        logged dir must contribute a file to the scan's file index —
        the listing Spark already did — or StoreReadError is raised."""
        if not dirs:
            return self.spark.createDataFrame([], _SCHEMAS[name])

        def logged(d: str) -> bool:
            parts = d.rstrip("/").rsplit("/", 3)
            return parts[-3:-1] == ["_data", name] and \
                parts[-1].startswith("c-")

        frames = [self.spark.read.parquet(d)
                  for d in dirs if not logged(d)]
        scan_dirs = [d for d in dirs if logged(d)]
        if scan_dirs:
            scan = self.spark.read.schema(_SCHEMAS[name]) \
                .parquet(*scan_dirs)
            want = {norm_uri(hadoop_qualify(self.spark, d)
                             if _remote_scheme(d) else d): d
                    for d in scan_dirs}
            # log dirs are flat (unpartitioned writes): a file's
            # parent IS its committed dir
            have = {norm_uri(f).rsplit("/", 1)[0]
                    for f in scan.inputFiles()}
            lost = sorted(d for u, d in want.items() if u not in have)
            if lost:
                raise StoreReadError(
                    f"table '{name}': committed data dirs without data "
                    f"files: {lost} (corruption, or vacuumed past this "
                    f"reader's snapshot retention)")
            frames.append(scan)
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f, allowMissingColumns=True)
        return self._project(name, df)

    @staticmethod
    def _dir_has_data(path: str) -> bool:
        """True if the directory tree holds any data file (anything not
        an underscore/dot marker like _SUCCESS) — distinguishes an
        emptied table from an unreadable data-bearing one."""
        for base, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    return True
        return False

    def _project(self, name: str, df: DataFrame) -> DataFrame:
        if "date_month" in df.columns:  # physical partition column only
            df = df.drop("date_month")
        return df.select(*[f.name for f in _SCHEMAS[name].fields])

    def _overwrite(self, name: str, df: DataFrame, shape: bool = True) -> None:
        """Copy-on-write table replace: stage ``df`` as a fresh
        immutable uuid dir recorded as a REPLACE in the open mutation
        session; the atomic commit publishes it together with every
        other table the mutation touched.  The superseded dirs stay on
        disk for the vacuum retention window — real MVCC snapshots, so
        a concurrent reader's lazy plan over the old version keeps
        working (what the pre-unification ``.old`` rename-pair protocol
        only approximated)."""
        self._stage_write(name, df, replace=True, shape=shape)

    def _append(self, name: str, df: DataFrame) -> None:
        self._stage_write(name, df, replace=False)


    # -- ingest (add) -----------------------------------------------------

    @_locked
    def add_fasta_df(self, records: DataFrame, force: bool = False,
                     band_extra: int = 200, paranoid: bool = True,
                     metadata_defaults: dict | None = None) -> dict:
        """The `add` pipeline (reference sonar.py:511-702):

        1. harmonize + SEGUID (JVM expressions)
        2. conflict check: existing accession with a different sequence →
           error (or replace with ``force``)
        3. distinct NEW seqhashes → alignment UDF → profiles + variant
           tables
        4. append/merge the five tables
        5. paranoid round-trip: restore every new genome from stored
           variants, byte-compare with the input (T15)

        Steps 1–2 build ONE batch frame — a row per accession with its
        stored row and the flags every later step filters on — and
        ``localCheckpoint`` it; its counts are observed while it is
        materialized, so validation adds no job of its own.  The aligner
        input, the ``sequences``/``genomes`` appends and the paranoid
        input are filters of that checkpoint; nothing re-joins the
        stored tables.

        ``report["timings"]`` holds wall seconds per phase: ``validate``
        (the batch checkpoint: scan, harmonize+SEGUID, dedup, the joins
        with the stored genomes/sequences and the batch counts),
        ``derive`` (alignment + variant derivation, errors and OK count
        observed on its checkpoint), ``appends`` (first append start to
        last append end), ``paranoid`` and ``manifest`` (manifest
        refresh).  The paranoid check overlaps the appends.
        """
        import concurrent.futures as _cf

        timings: dict[str, float] = {}
        t0 = time.perf_counter()
        nonempty = F.length("sequence") > 0
        # one row per accession.  Identical records collapse silently;
        # one accession with two different sequences is a hard error —
        # a distributed read has no "last record wins" order to honor
        # (reference iterates the FASTA sequentially, sonar.py:572-641).
        # Header-only / empty-sequence records are SKIPPED like the
        # reference (sonar.py:579-580) — ingesting them would align as
        # a whole-genome deletion and pollute the store with junk.
        per_acc = records.select(
            "accession", "description",
            ING.harmonized(F.col("sequence")).alias("sequence"),
        ).withColumn("seqhash", ING.seguid_col("sequence")) \
         .groupBy("accession").agg(
            F.first(F.when(nonempty, F.struct("seqhash", "description",
                                              "sequence")),
                    ignorenulls=True).alias("r"),
            (F.min(F.when(nonempty, F.col("seqhash")))
             != F.max(F.when(nonempty, F.col("seqhash")))).alias("dup"),
            F.count_if(~nonempty).alias("n_empty"))
        # the stored rows per accession as a (min, max) pair: a legacy
        # store may hold an accession twice, and only a batch row equal
        # to BOTH equals every stored copy — no row multiplies
        old_row = F.struct("seqhash", "description")
        stored = self.table("genomes").groupBy("accession").agg(
            F.min(old_row).alias("old_lo"), F.max(old_row).alias("old_hi"))
        known = self.table("sequences").select("seqhash").distinct() \
            .withColumn("known", F.lit(True))
        row = F.struct(F.col("r.seqhash").alias("seqhash"),
                       F.col("r.description").alias("description"))
        # a changed DESCRIPTION is a conflict too (reference
        # sonar.py:595-600 errors without --force and updates with it)
        same_row = F.coalesce(F.col("old_lo").eqNullSafe(row)
                              & F.col("old_hi").eqNullSafe(row), F.lit(False))
        filled = F.col("r").isNotNull()
        # each join meets two sides already hash-partitioned on its key
        # (the two aggregates; the seqhash window and the distinct known
        # hashes): a merge join adds no exchange, a broadcast would add
        # a job per join
        batch = per_acc.join(stored.hint("merge"), "accession", "left") \
            .select(
                "accession", "r.seqhash", "r.description", "r.sequence",
                filled.alias("filled"),
                F.coalesce("dup", F.lit(False)).alias("dup"),
                (F.col("n_empty") > 0).alias("has_empty"),
                same_row.alias("same_row"),
                (filled & F.col("old_lo").isNotNull() & ~same_row
                 ).alias("conflict")) \
            .withColumn("first", F.row_number().over(
                Window.partitionBy("seqhash").orderBy("accession")) == 1) \
            .join(known.hint("merge"), "seqhash", "left") \
            .withColumn("new", F.col("filled") & F.col("first")
                        & F.col("known").isNull()) \
            .drop("first", "known")
        counts = Observation("add_batch")
        # localCheckpoint (NOT cache): appending to the sequences /
        # genomes paths below triggers CacheManager.recacheByPath, which
        # would recompute a cached plan against the just-written tables
        # (every new seqhash would then read as known, every new
        # accession as stored); the truncated lineage is immune to the
        # table writes, and nothing is left pinned if the add is rejected
        batch = batch.observe(
            counts,
            F.count_if("filled").alias("added"),
            F.count_if("has_empty").alias("skipped"),
            F.count_if("dup").alias("dups"),
            F.count_if("conflict").alias("conflicts"),
        ).localCheckpoint()
        n = counts.get

        def sample(flag: str) -> list[str]:
            return [r["accession"] for r in
                    batch.where(flag).select("accession").limit(5).collect()]
        if n["dups"]:
            raise ValueError(
                f"input batch contains conflicting sequences for the same "
                f"accession(s): {sample('dup')}")
        n_conflicts = n["conflicts"]
        if n_conflicts and not force:
            raise ValueError(
                f"{n_conflicts} accession(s) already stored with a different "
                f"sequence or description (use force=True to replace), "
                f"e.g. {sample('conflict')}")

        t1 = time.perf_counter()
        timings["validate"] = t1 - t0
        new_seqs = batch.where("new").select("seqhash", "sequence")
        # localCheckpoint, not cache, for the same recacheByPath reason
        derived = Observation("add_derive")
        profiled = ING.derive_profiles(
            new_seqs, self.ref_seq, self.cds_list, band_extra=band_extra,
        ).observe(
            derived,
            F.count_if(F.col("error").isNull()).alias("ok"),
            F.collect_list(F.when(F.col("error").isNotNull(), F.struct(
                "seqhash", "error"))).alias("errors"),
        ).localCheckpoint()
        d = derived.get
        errors = d["errors"]
        ok = profiled.where(F.col("error").isNull())
        timings["derive"] = time.perf_counter() - t1

        bad_hashes = {r["seqhash"] for r in errors}
        good = ~F.col("seqhash").isin(list(bad_hashes)) if bad_hashes \
            else F.lit(True)
        from covsonar_spark.sources.metadata import UPPERCASED
        meta = {k: (v.upper() if k in UPPERCASED and isinstance(v, str) else v)
                for k, v in (metadata_defaults or {}).items()}
        gen_cols = [f.name for f in schemas.GENOMES.fields]
        # skip accessions already stored with the same sequence — re-add
        # must not clobber their metadata (reference P1, sonar.py:572-641)
        new_genomes = batch.where(F.col("filled") & ~F.col("same_row")
                                  & good) \
            .select("accession", "description", "seqhash")
        for c in gen_cols:
            if c not in ("accession", "description", "seqhash", "imported"):
                new_genomes = new_genomes.withColumn(c, F.lit(meta.get(c)).cast(
                    dict((f.name, f.dataType) for f in schemas.GENOMES.fields)[c]))
        new_genomes = new_genomes.withColumn("imported", F.current_timestamp()) \
            .select(*gen_cols)

        # the five table appends are independent writes from the two
        # checkpoints, so they run as CONCURRENT Spark jobs — driver
        # threads submitting to one scheduler, the standard multi-job
        # pattern.  be_paranoid reads only the stored dna_variants, so
        # it overlaps the remaining appends as soon as that table lands.
        append_jobs = {
            "sequences": new_seqs.where(good),
            "profiles": ok.select(
                "seqhash", "dna_profile", "aa_profile", "fs_profile",
                P.token_bloom("dna_profile").alias("dna_bloom"),
                P.token_bloom("aa_profile").alias("aa_bloom")),
            "dna_variants": ING.explode_dna_variants(ok),
            "prot_variants": ING.explode_prot_variants(ok),
        }
        if n_conflicts == 0:
            # common case: nothing stored needs replacing (conflicting
            # accessions would have raised above, same-sequence re-adds
            # were excluded via `same_row`), so the batch APPENDS new
            # rows instead of rewriting the whole genomes table — at
            # 100 TB this is the difference between an O(batch) and an
            # O(table) ingest.  A genomes row is a sliver of its batch
            # row (no sequence): a quarter of the batch partitions, the
            # ratio _stage_write gives the seqhash-shaped tables, keeps
            # the append from writing one small file per batch partition
            append_jobs["genomes"] = new_genomes.coalesce(
                max(1, batch.rdd.getNumPartitions() // 4))

        report = {"errors": {r["seqhash"]: r["error"] for r in errors},
                  "added_accessions": n["added"], "new_sequences": d["ok"],
                  "skipped_empty": n["skipped"], "timings": timings}
        spans: dict[str, tuple[float, float]] = {}

        def timed(key, fn):
            # (start, end) of fn on the pool thread that runs it
            def run(*args):
                start = time.perf_counter()
                try:
                    return fn(*args)
                finally:
                    spans[key] = (start, time.perf_counter())
            return run

        with _cf.ThreadPoolExecutor(max_workers=len(append_jobs) + 1) as pool:
            # pool threads are ENROLLED in the open mutation session:
            # the appends stage into it and the paranoid round-trip
            # reads the session view (the dna_variants rows staged a
            # moment earlier); un-enrolled threads on this handle keep
            # the committed snapshot
            futs = {t: pool.submit(timed(t, self._enrolled(self._append)),
                                   t, df)
                    for t, df in append_jobs.items()}
            paranoid_fut = None
            if paranoid:
                from covsonar_spark.operators.restore import paranoid_check

                check = batch.where(F.col("filled") & good) \
                    .select("accession", "seqhash", "sequence")
                futs.pop("dna_variants").result()   # paranoid's input table
                paranoid_fut = pool.submit(
                    timed("paranoid", self._enrolled(paranoid_check)),
                    self, check)
            for f in futs.values():
                f.result()
            app = [spans[t] for t in append_jobs]
            timings["appends"] = max(e for _, e in app) - \
                min(s for s, _ in app)
            timings["paranoid"] = 0.0
            if paranoid_fut is not None:
                mism = paranoid_fut.result()
                timings["paranoid"] = spans["paranoid"][1] - \
                    spans["paranoid"][0]
                report["paranoid_mismatches"] = mism
                if mism:
                    raise AssertionError(
                        f"paranoid round-trip failed for {mism}")

        if n_conflicts != 0:  # force-replace path: copy-on-write rewrite
            old = self.table("genomes")
            merged = old.join(new_genomes.select("accession"), "accession",
                              "left_anti").unionByName(new_genomes)
            self._overwrite("genomes", merged)
            # replaced accessions may have orphaned their old seqhash
            # rows (reference delete-then-add GCs, lib/sonardb.py:1470)
            self._gc_orphans()
        # keep existing manifests CURRENT through ingest: the
        # incremental build reuses every surviving row (immutable dirs)
        # and scans only this batch's new dirs, so the zero-listing
        # pinned-manifest match path stays hot instead of falling back
        # to listing until the next optimize().  Absent manifests are
        # not created here — opting into manifests stays an
        # optimize()-time decision.
        t2 = time.perf_counter()
        for t in ("profiles", "genomes"):
            if self._manifest(t) is not None:
                report[f"manifest_files_{t}"] = self.build_manifest(t)
        timings["manifest"] = time.perf_counter() - t2
        return report

    # -- metadata update / delete / info (P4, P5, A2-A8) -------------------

    @_locked
    def update_metadata(self, updates: DataFrame) -> int:
        """P4 — join-based metadata upsert (reference update_genome,
        lib/sonardb.py:2010-2087, applied per accession in a driver
        loop; here one MERGE-shaped join over the whole batch).
        ``updates`` has an ``accession`` column plus any subset of the
        genome metadata columns; NULL cells leave the stored value."""
        gen = self.table("genomes")
        meta_cols = [c for c in updates.columns if c != "accession"]
        unknown = set(meta_cols) - {f.name for f in schemas.GENOMES.fields}
        if unknown:
            raise ValueError(f"unknown metadata columns: {sorted(unknown)}")
        # one aggregate over the update and stored accessions together:
        # per accession its update rows and whether it is stored.  The
        # pass collects the duplicated accessions (none on an accepted
        # update) and observes the matched count; a stored accession
        # held twice by a legacy store still matches once
        seen = Observation("update_tally")
        per_acc = updates.select("accession", F.lit(1).alias("_u")) \
            .unionByName(gen.select("accession", F.lit(0).alias("_u"))) \
            .groupBy("accession").agg(
                F.sum("_u").alias("n"),
                F.count_if(F.col("_u") == 0).alias("stored")) \
            .observe(seen, F.count_if((F.col("n") > 0) & (F.col("stored") > 0))
                     .alias("matched"))
        dups = [r["accession"] for r in
                per_acc.where(F.col("n") > 1).select("accession").collect()]
        if dups:
            raise ValueError(
                f"updates contain duplicate accessions: {dups[:5]} — a "
                f"distributed upsert has no last-row-wins order to honor")
        n = seen.get["matched"]
        upd = updates.select(
            "accession", *[F.col(c).alias(f"_u_{c}") for c in meta_cols])
        # no broadcast hint: the updates side is unbounded (a full
        # re-annotation batch); Catalyst/AQE picks broadcast when small
        merged = gen.join(upd, "accession", "left")
        for c in meta_cols:
            merged = merged.withColumn(
                c, F.coalesce(F.col(f"_u_{c}").cast(
                    dict((f.name, f.dataType) for f in schemas.GENOMES.fields)[c]),
                    F.col(c)))
        self._overwrite("genomes", merged.select(
            *[f.name for f in schemas.GENOMES.fields]))
        return n

    @_locked
    def remove(self, accessions: list[str]) -> dict:
        """P5 — delete genomes + orphan GC (reference delete_genome,
        lib/sonardb.py:1470-1504): a seqhash whose last accession is
        removed loses its sequence/profile/variant rows too."""
        gen = self.table("genomes")
        keep = gen.where(~F.col("accession").isin(accessions))
        removed = gen.count() - keep.count()
        self._overwrite("genomes", keep)
        orphans = self._gc_orphans()
        return {"removed_accessions": removed, "gc_seqhashes": orphans}

    def _gc_orphans(self) -> int:
        """Drop sequence/profile/variant rows whose seqhash no genome
        references anymore (shared by remove() and the force-replace
        ingest path).  The live set joins WITHOUT a broadcast hint —
        at scale it is every distinct sequence, far past broadcast
        size; the seqhash-clustered layout makes the semi-join
        co-located and AQE still broadcasts small stores."""
        live = self.table("genomes").select("seqhash").distinct()
        orphans = 0
        for t in ("sequences", "profiles", "dna_variants", "prot_variants"):
            df = self.table(t)
            kept = df.join(live, "seqhash", "left_semi")
            if t == "sequences":
                orphans = df.select("seqhash").distinct().count() - \
                    kept.select("seqhash").distinct().count()
            self._overwrite(t, kept)
        return orphans

    def info(self) -> dict:
        """A2-A8 — the `info` subcommand aggregates
        (lib/sonardb.py:1552-1595) in two jobs: one multi-aggregate
        pass over genomes, plus the source×collection group counts."""
        gen = self.table("genomes")
        meta = [f.name for f in schemas.GENOMES.fields
                if f.name not in ("accession", "seqhash", "imported")]
        row = gen.agg(
            F.count("accession").alias("genomes"),
            F.countDistinct("seqhash").alias("unique_sequences"),
            F.countDistinct(F.when(F.col("lab") != "", F.col("lab"))).alias("labs"),
            F.min("imported").alias("first_import"),
            F.max("imported").alias("last_import"),
            F.min("date").alias("earliest_date"),
            F.max("date").alias("latest_date"),
            *[F.count(F.when(F.col(c).isNotNull() & (F.col(c).cast("string") != ""), 1))
              .alias(f"n_{c}") for c in meta],
        ).collect()[0].asDict()
        row["by_source_collection"] = [
            r.asDict() for r in gen.groupBy("source", "collection")
            .agg(F.count("accession").alias("n"))
            .orderBy("source", "collection").collect()]
        # A10 — database size (reference pretty-prints the sqlite file
        # size, sonar.py:933-939; here the sum over table files, listed
        # via the Hadoop FS API so it works on any scheme)
        snap = self._log.latest()
        if snap is not None:
            dirs = [d for t in TABLES for d in snap[1].get(t, [])]
            row["db_size_bytes"] = sum(
                size for d in dirs
                for _p, size in hadoop_list_files(
                    self.spark, d, include_hidden=True, with_size=True))
            row["commit_version"] = snap[0]
            return row
        row["db_size_bytes"] = sum(
            size for t in TABLES
            for _p, size in hadoop_list_files(
                self.spark, self._path(t), include_hidden=True,
                with_size=True))
        row["commit_version"] = 0
        return row

    # -- query ------------------------------------------------------------

    @staticmethod
    def _months_of(specs: list[str]) -> list[str] | None:
        """yyyy-MM partition values covered by the include date specs
        ('d' or 'a:b'); None when no include spec exists (no pruning —
        negations can't bound the scan)."""
        import datetime

        months: set[str] = set()
        saw_include = False
        for spec in specs:
            if spec.startswith("^"):
                continue
            saw_include = True
            a, _, b = spec.partition(":")
            b = b or a
            try:
                d0 = datetime.date.fromisoformat(a).replace(day=1)
                d1 = datetime.date.fromisoformat(b).replace(day=1)
            except ValueError:
                return None
            while d0 <= d1:
                months.add(d0.strftime("%Y-%m"))
                d0 = (d0 + datetime.timedelta(days=32)).replace(day=1)
        return sorted(months) if saw_include else None

    def essence(self, date_specs: list[str] | None = None,
                profiles: DataFrame | None = None,
                genomes: DataFrame | None = None) -> DataFrame:
        """genomes ⟕ profiles; when the query carries include-date specs
        the derived month set filters the hive partition column BEFORE
        it is dropped, so the parquet scan prunes directories (the
        match-time payoff of the partition-by-month layout).
        ``profiles``/``genomes`` override their side (the
        manifest-pruned scans from ``_match_profiles`` /
        ``_match_genomes``; the genomes override subsumes the month
        pruning — its manifest carries exact per-file date min/max)."""
        if genomes is not None:
            if profiles is None:
                profiles = self.table("profiles")
            return build_essence(genomes, profiles)
        path = self._path("genomes")
        # the raw-plain-path month prune applies ONLY to the legacy
        # pre-log layout (where the plain dir IS the table and carries
        # the date_month hive partitioning): on a log-bearing store the
        # plain dir — if it still exists at all — is a superseded
        # adopted copy, and reading it would serve stale rows; there
        # the genomes manifest's per-file date min/max subsumes month
        # pruning
        if (date_specs and os.path.exists(path)
                and self._live_dirs("genomes") is None):
            months = self._months_of(date_specs)
            raw = self.table("genomes")
            if months is not None:
                try:  # an emptied table dir (only _SUCCESS) has no schema
                    pruned = self.spark.read.parquet(path)
                except Exception:  # noqa: BLE001
                    pruned = None
                if pruned is not None:
                    if "date_month" in pruned.columns:
                        pruned = pruned.where(F.col("date_month").isin(months))
                    raw = pruned.select(*[f.name for f in schemas.GENOMES.fields])
            genomes = raw
        else:
            genomes = self.table("genomes")
        if profiles is None:
            profiles = self.table("profiles")
        return build_essence(genomes, profiles)

    def match(self, query: MatchQuery) -> DataFrame:
        # one commit snapshot for the whole multi-table plan
        # (genomes + profiles + manifests) — see read_snapshot()
        with self.read_snapshot():
            resolved = self._resolved_lineages(query)
            return MatchEngine(
                self.essence(query.dates or None,
                             self._match_profiles(query),
                             self._match_genomes(query, resolved)),
                self.sublineage_map).run(query, resolved_lineages=resolved)

    @contextlib.contextmanager
    def at_version(self, version: int):
        """Pin EVERY table resolution inside the block to commit
        ``version`` (Delta's ``VERSION AS OF`` as a context): match,
        restore, VCF export — any multi-table plan — reproduces the
        store exactly as that commit published it.  Raises ValueError
        for a version never committed or vacuumed past retention.
        Thread-local, nestable (inner pin wins, outer restored)."""
        info = self._log.resolve(version)
        prev = getattr(self._read_pin, "snap", None)
        self._read_pin.snap = (version, info.get("tables", {}),
                               info.get("id"))
        try:
            yield
        finally:
            self._read_pin.snap = prev

    def match_at(self, query: MatchQuery, version: int) -> DataFrame:
        """Time-travel match — on ANY root since the round-7 protocol
        unification: the full match semantics evaluated against commit
        ``version``'s snapshot (reproduce last month's screen exactly,
        audit what a query returned before a delete).  Pins the whole
        multi-table plan — wildcard expansion included — to that
        version; manifest pruning only engages when the manifest is
        pinned to the same commit id.  Delegates to :meth:`match` —
        its read_snapshot preserves the enclosing at_version pin."""
        with self.at_version(version):
            return self.match(query)

    def _resolved_lineages(self, query: MatchQuery) -> tuple | None:
        """``%``-wildcard expansion + sublineage closure resolved ONCE
        over the FULL genomes table, feeding BOTH the manifest prune and
        the engine predicate (round-5 review, high: the engine used to
        re-expand over the PRUNED essence — when date/zip/ct pruning
        removed every file holding the wildcard's lineages, the engine's
        expansion came back empty, the lineage predicate was dropped,
        and the pruned match returned rows the unpruned match excludes).
        Above the semi-join threshold the resolution stays a distributed
        DataFrame (match.expand_lineages)."""
        if not query.lineages:
            return None
        from covsonar_spark.operators.match import (expand_lineages,
                                                    split_negations)

        inc, exc = split_negations([v.upper() for v in query.lineages])
        genomes = self.table("genomes")
        return (expand_lineages(genomes, inc, query.with_sublineage,
                                self.sublineage_map),
                expand_lineages(genomes, exc, False, self.sublineage_map))

    def _match_genomes(self, query: MatchQuery,
                       resolved: tuple | None = None) -> DataFrame | None:
        """The genomes side for a match: manifest-pruned on metadata
        min/max stats when the query carries include lineage / date /
        submission-date / zip specs and a genomes manifest exists, else
        None (full table + the month partition pruning in essence()).

        Losslessness: every per-dimension condition is a NECESSARY
        condition of the engine's row predicate for that dimension
        (sources/manifest.py stat_* builders), and conditions AND
        together exactly like the engine's predicate tree — a pruned
        file provably holds no row the match would return.  Wildcard
        lineages use the SAME resolution the engine predicate does
        (``_resolved_lineages``, expanded over the full table — one
        source of truth, so pruned and unpruned matches cannot diverge);
        an expansion that yields nothing drops the engine's lineage
        predicate entirely, so it must not prune here either.
        Excludes (`^`) never prune — negation cannot skip files."""
        man = self._manifest("genomes")
        if man is None:
            return None
        from covsonar_spark.operators.match import split_negations
        from covsonar_spark.sources import manifest as M

        conds = []
        if resolved is None:
            resolved = self._resolved_lineages(query)
        inc_lin = resolved[0] if resolved is not None else []
        if isinstance(inc_lin, DataFrame):
            # expansion overflow: the value set is distributed-only —
            # skip the lineage prune dimension (pruning less is always
            # lossless); the engine's semi-join applies the exact filter
            pass
        elif inc_lin:        # empty expansion = no engine predicate
            c = M.stat_in_condition("lineage", inc_lin)
            if c is not None:
                conds.append(c)
        for fld, specs in (("date", query.dates),
                           ("submission_date", query.submission_dates)):
            inc, _ = split_negations(specs or [])
            if not inc:
                continue
            import datetime
            ranges, ok = [], True
            for spec in inc:
                a, _, b = spec.partition(":")
                b = b or a
                try:
                    datetime.date.fromisoformat(a)
                    datetime.date.fromisoformat(b)
                except ValueError:
                    ok = False   # malformed spec: the engine raises
                    break
                ranges.append((a, b))
            if ok:
                c = M.stat_range_condition(fld, ranges, cast="date")
                if c is not None:
                    conds.append(c)
        inc_zip, _ = split_negations(query.zips or [])
        if inc_zip:
            c = M.stat_prefix_condition("zip", [str(z) for z in inc_zip])
            if c is not None:
                conds.append(c)
        if query.min_ct is not None or query.max_ct is not None:
            c = M.stat_range_condition(
                "ct", [(query.min_ct, query.max_ct)])
            if c is not None:
                conds.append(c)
        if not conds:
            return None
        return self._prune_with("genomes", man, P.and_all(conds))

    def _match_profiles(self, query: MatchQuery) -> DataFrame | None:
        """The profiles side for a match: manifest-pruned when the query
        carries include-profile groups and a manifest exists, else None
        (full table).  Safe under the essence left join: a genome whose
        profile file was pruned joins NULL profiles, and the include
        predicate (which pruning is a necessary condition of) rejects
        it exactly as the full scan would.  Exclude-only queries are
        never pruned — negation cannot skip files."""
        if not query.profiles:
            return None
        man = self._manifest("profiles")
        if man is None:
            return None
        from covsonar_spark.functions import tokens as TK
        from covsonar_spark.sources.manifest import file_group_condition

        try:
            groups = TK.rewrite_profiles(query.profiles)
        except ValueError:
            return None       # invalid tokens: let the engine raise
        cond = file_group_condition(
            groups, {"dna": "dna_profile_bloom", "aa": "aa_profile_bloom"})
        if cond is None:
            return None
        return self._prune_with("profiles", man, cond)

    def variant_trends(self, field: str = "dna_profile") -> DataFrame:
        """Per-month variant-token frequencies over the store — the
        monitoring query covsonar deployments run downstream (RKI
        lineage/mutation surveillance, reference README's use case):
        share of genomes per month carrying each profile token.

        One scan: explode the token array next to month(date), count
        per (month, token), divide by the month's genome total (window
        over the already-aggregated frame — no second pass)."""
        ess = self.essence()
        month = F.date_format("date", "yyyy-MM").alias("month")
        dated = ess.where(F.col("date").isNotNull())
        tok = dated.select(month, F.explode_outer(field).alias("token"),
                           "accession")
        counts = (tok.groupBy("month", "token")
                  .agg(F.countDistinct("accession").alias("n")))
        # month totals come from the narrow UNEXPLODED frame — the
        # exploded token fan-out never feeds a second aggregate
        totals = (dated.select(month, "accession").groupBy("month")
                  .agg(F.countDistinct("accession").alias("n_total")))
        return (counts.where(F.col("token").isNotNull())
                .join(totals, "month")
                .withColumn("share", F.round(F.col("n") / F.col("n_total"), 4))
                .orderBy("month", F.col("n").desc(), "token"))

    def lineage_frequencies(self) -> DataFrame:
        """Per-month lineage shares (the reference ecosystem's headline
        plot): one scan of genomes, month+lineage rollup, share via a
        window over the aggregate."""
        g =(self.table("genomes")
             .where(F.col("date").isNotNull() & F.col("lineage").isNotNull()))
        counts = (g.groupBy(F.date_format("date", "yyyy-MM").alias("month"),
                            "lineage")
                  .agg(F.count(F.lit(1)).alias("n")))
        w = Window.partitionBy("month")
        return (counts
                .withColumn("share", F.round(F.col("n") / F.sum("n").over(w), 4))
                .orderBy("month", F.col("n").desc(), "lineage"))

    def register_views(self, prefix: str = "") -> list[str]:
        """Expose the store as SQL: temp views for the four base tables
        plus the denormalized ``essence`` (the reference's query target,
        lib/db.sqlite:95-123) — so everything the Python API answers is
        also one ``spark.sql()`` away, e.g.

            SELECT accession, lineage FROM essence
            WHERE array_contains(dna_profile, 'C241T')
              AND lineage IN ('B.1.1.7')

        Temp views are metadata only (the DataFrame plan is the view):
        filters over them still push to the parquet scans, so the SQL
        surface costs nothing at 100 TB."""
        names = []
        for t in ("genomes", "sequences", "profiles", "dna_variants",
                  "prot_variants"):
            try:
                self.table(t).createOrReplaceTempView(prefix + t)
                names.append(prefix + t)
            except Exception:  # noqa: BLE001 — table not materialized yet
                continue
        self.essence().createOrReplaceTempView(prefix + "essence")
        names.append(prefix + "essence")
        return names


def _session_table_raw(store: "SonarStore", table: str):
    """``table`` as the OPEN mutation session resolves it — the base
    snapshot, which on a first mutation is the adopted legacy layout
    INCLUDING crash artifacts (a completed ``.tmp`` or ``.old`` from
    the pre-unification posix swap).  Migrations must read this view,
    not probe the plain path: a v1 store that died mid-swap (final dir
    absent, ``.old`` intact) would otherwise be skipped while VERSION
    still bumps — a permanently unmigrated store reported as upgraded.
    Returns None only for a CONFIRMED-empty table; a read failure
    raises, aborting the upgrade before its version marker is written
    (the stepwise upgrade resumes there on the next run)."""
    dirs = store._live_dirs(table)
    if not dirs:
        return None
    return store.spark.read.parquet(*dirs)


def _migrate_to_2(store: "SonarStore") -> None:
    """v1 → v2: conform ``genomes`` to the canonical schema.

    Covers the same ground as the reference's only shipped migration
    (lib/migrate/4.sql: ALTER TABLE genome ADD submission_date + view
    rebuild): columns missing from old stores appear as typed nulls and
    string-typed date columns are cast to DateType.  Runs inside an
    open mutation session (one commit) and reads the session's adopted
    base snapshot — see :func:`_session_table_raw`."""
    df = _session_table_raw(store, "genomes")
    if df is None:
        return
    have = dict(df.dtypes)
    cols = []
    for f in schemas.GENOMES.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    store._overwrite("genomes", df.select(*cols))


def _migrate_to_3(store: "SonarStore") -> None:
    """v2 → v3: backfill the profiles table's bloom fingerprint columns
    from the stored token arrays (one pass, pure codegen).  Reads the
    session's adopted base snapshot — see :func:`_session_table_raw`."""
    df = _session_table_raw(store, "profiles")
    if df is None:
        return
    if "dna_bloom" in df.columns:
        return
    store._overwrite("profiles", df.select(
        "seqhash", "dna_profile", "aa_profile", "fs_profile",
        P.token_bloom("dna_profile").alias("dna_bloom"),
        P.token_bloom("aa_profile").alias("aa_bloom")))


_MIGRATIONS = {2: _migrate_to_2, 3: _migrate_to_3}
