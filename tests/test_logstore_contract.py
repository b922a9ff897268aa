"""Executable contract for the pluggable LogStore seam
(CommitLog(fs=...)) — what any backend (Delta's LogStore analogue: a
raw-object-store adapter over a conditional PUT must pass it too)
must provide.  The generic tests run on an adversarial in-memory fake
AND on the production posix backend (a real LocalFS, os.link
put-if-absent):

  * ``rename_no_replace`` is put-if-absent: of any set of concurrent
    callers for one destination, at most one returns True and the
    destination holds exactly that caller's complete payload —
    never a torn or interleaved one;
  * it may RAISE with the operation's outcome unknown (a conditional
    PUT that timed out after landing — the "lost ack").  commit()
    must then decide by reading the slot back: own id → won; other
    id → StoreWriteConflict; unreadable → StoreCommitIndeterminate,
    after which the mutation session must NOT delete its staged dirs
    (a published snapshot may reference them).

The fake has no plain ``rename`` at all, like raw S3 — the protocol
never relies on plain rename, only on the conditional-put primitive
above.
"""
from __future__ import annotations

import json
import threading
import time

import pytest

from covsonar_spark.commitlog import (CommitLog, LocalFS,
                                      StoreCommitIndeterminate,
                                      StoreWriteConflict)


class MemObjectFS:
    """In-memory object store with a conditional-put primitive and
    failure injection.  ``fail`` modes (consumed one rename at a time
    from a list):
      * "lost_ack"  — the conditional put LANDS, then the call raises
      * "lost_call" — the call raises and nothing lands
    """

    # the conditional put stamps the publish time, like a copy-based
    # object-store rename — the lease break must not trust it
    RENAME_PRESERVES_MTIME = False

    def __init__(self):
        self._lock = threading.RLock()
        self._obj: dict[str, bytes] = {}
        self._mtime: dict[str, float] = {}
        self.fail: list[str] = []

    # -- surface -----------------------------------------------------
    def exists(self, path):
        with self._lock:
            return path in self._obj or any(
                k.startswith(path.rstrip("/") + "/") for k in self._obj)

    def mkdirs(self, path):
        pass                       # object stores have no directories

    def delete(self, path, recursive=True):
        with self._lock:
            hit = False
            for k in list(self._obj):
                if k == path or (recursive
                                 and k.startswith(path.rstrip("/") + "/")):
                    del self._obj[k]
                    self._mtime.pop(k, None)
                    hit = True
            return hit

    def mtime(self, path):
        with self._lock:
            if path not in self._mtime:
                raise FileNotFoundError(path)
            return self._mtime[path]

    def touch(self, path):
        with self._lock:
            self._mtime[path] = time.time()

    def write_bytes(self, path, data, overwrite=True):
        with self._lock:
            if not overwrite and path in self._obj:
                raise FileExistsError(path)
            self._obj[path] = bytes(data)
            self._mtime[path] = time.time()

    write_bytes_atomic = write_bytes     # one locked dict store

    def read_bytes(self, path):
        with self._lock:
            if path not in self._obj:
                raise FileNotFoundError(path)
            return self._obj[path]

    def rename_no_replace(self, src, dst):
        with self._lock:
            mode = self.fail.pop(0) if self.fail else None
            if mode == "lost_call":
                raise TimeoutError("injected: PUT lost before landing")
            if src not in self._obj:
                return False
            if dst in self._obj:
                return False
            self._obj[dst] = self._obj.pop(src)
            self._mtime[dst] = time.time()
            self._mtime.pop(src, None)
            if mode == "lost_ack":
                raise TimeoutError("injected: PUT landed, ack lost")
            return True

    def list_names(self, path):
        with self._lock:
            pre = path.rstrip("/") + "/"
            return sorted({k[len(pre):].split("/")[0]
                           for k in self._obj if k.startswith(pre)})


class FailingLocalFS(LocalFS):
    """The production posix backend with the fake's ``fail`` hooks
    around its real put-if-absent (os.link)."""

    def __init__(self):
        super().__init__()
        self.fail: list[str] = []

    def rename_no_replace(self, src, dst):
        mode = self.fail.pop(0) if self.fail else None
        if mode == "lost_call":
            raise TimeoutError("injected: call lost before landing")
        won = super().rename_no_replace(src, dst)
        if mode == "lost_ack" and won:
            raise TimeoutError("injected: publish landed, ack lost")
        return won


@pytest.fixture(params=["mem", "local"])
def backend(request, tmp_path):
    """(fs, log) for the LogStore under test: the adversarial in-memory
    fake, or a real LocalFS rooted under tmp_path.  Both expose the
    same ``fail`` injection hooks."""
    if request.param == "mem":
        fs = MemObjectFS()
        return fs, _mklog(fs)
    fs = FailingLocalFS()
    return fs, CommitLog(None, str(tmp_path / "store"), fs=fs)


def _mklog(fs) -> CommitLog:
    return CommitLog(None, "mem://store", fs=fs)


def test_concurrent_committers_exactly_one_winner(backend):
    """8 threads race commit() of the same version: one returns, the
    rest raise StoreWriteConflict, the published commit is one
    complete loser-free body, and no loser's commit id ever appears
    in the log (the manifest-pinning invariant)."""
    _fs, log = backend
    base = log.commit(0, {"t": ["d0"]})
    wins, losses = [], []
    barrier = threading.Barrier(8)

    def committer(i):
        barrier.wait()
        try:
            log.commit(base, {"t": [f"d{i}"]}, commit_id=f"cid-{i}")
            wins.append(i)
        except StoreWriteConflict:
            losses.append(i)

    ts = [threading.Thread(target=committer, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(wins) == 1 and len(losses) == 7
    got = log.resolve(base + 1)
    assert got["id"] == f"cid-{wins[0]}"
    assert got["tables"] == {"t": [f"d{wins[0]}"]}
    # losers' ids appear in NO published commit
    published = {log.read_commit(v).get("id") for v in log.versions()}
    assert not ({f"cid-{i}" for i in losses} & published)


def test_lost_ack_self_heals_to_win(backend):
    """The conditional put lands but the ack is lost: commit() reads
    the slot back, finds its own id, and reports the commit as WON —
    not a conflict, not an exception."""
    fs, log = backend
    v = log.commit(0, {"t": ["a"]})
    fs.fail = ["lost_ack"]
    v2 = log.commit(v, {"t": ["a", "b"]}, commit_id="mine")
    assert v2 == v + 1
    assert log.resolve(v2)["id"] == "mine"
    assert log.latest()[1] == {"t": ["a", "b"]}


def test_lost_call_after_racing_winner_is_conflict(backend):
    """The call raises without landing AND another writer had already
    taken the version: the read-back finds the OTHER id → clean
    StoreWriteConflict, exactly as a plain False."""
    fs, log = backend
    v = log.commit(0, {"t": ["a"]})
    log.commit(v, {"t": ["a", "x"]}, commit_id="winner")   # slot taken
    fs.fail = ["lost_call"]
    with pytest.raises(StoreWriteConflict):
        log.commit(v, {"t": ["a", "y"]}, commit_id="loser")
    assert log.latest()[2] == "winner"


def test_lost_call_empty_slot_is_indeterminate(backend):
    """The call raises, nothing landed, the slot stays unreadable:
    commit() raises StoreCommitIndeterminate (NOT conflict) so the
    session keeps its staged dirs for vacuum instead of deleting data
    a still-in-flight publish might reference."""
    fs, log = backend
    v = log.commit(0, {"t": ["a"]})
    fs.fail = ["lost_call"]
    t0 = time.time()
    with pytest.raises(StoreCommitIndeterminate):
        log.commit(v, {"t": ["a", "b"]})
    assert time.time() - t0 < 5.0        # bounded read-back retries
    assert log.latest()[0] == v          # log unchanged


def test_session_keeps_staged_dirs_on_indeterminate(spark, tmp_path):
    """Store-level: an indeterminate publish must leave the staged
    data dirs on disk (vacuum owns their fate), while every other
    failure still cleans them eagerly."""
    import os

    from covsonar_spark.store import SonarStore

    st = SonarStore.open(spark, str(tmp_path / "s"))
    df = spark.createDataFrame([("A1", "B.1")],
                               "accession string, lineage string")

    staged_dirs: list[str] = []
    real_commit = st._log.commit

    def boom(*a, **kw):
        staged_dirs.extend(d for s in st._staged.values()
                           for d in s["dirs"])
        raise StoreCommitIndeterminate("injected")

    st._log.commit = boom
    with pytest.raises(StoreCommitIndeterminate):
        with st._mutation_session():
            st._overwrite("genomes", df)
    assert staged_dirs and all(os.path.isdir(d) for d in staged_dirs)

    staged_dirs.clear()

    def boom2(*a, **kw):
        staged_dirs.extend(d for s in st._staged.values()
                           for d in s["dirs"])
        raise RuntimeError("definite failure")

    st._log.commit = boom2
    with pytest.raises(RuntimeError):
        with st._mutation_session():
            st._overwrite("genomes", df)
    assert staged_dirs and not any(os.path.exists(d) for d in staged_dirs)
    st._log.commit = real_commit


def test_full_protocol_runs_on_the_fake(backend):
    """The whole read/write surface — chained delta commits,
    checkpoint cadence, O(1) hinted latest(), time-travel resolve,
    vacuum retention — works against the object-store fake as well as
    on posix."""
    _fs, log = backend
    snap = None
    model = {}
    hist = {}
    for i in range(23):
        snap = log.latest()
        base = dict(snap[1]) if snap else {}
        cp = getattr(snap, "checkpoint", None) if snap else None
        model = {t: list(d) for t, d in base.items()}
        model.setdefault("t", [])
        model["t"] = model["t"] + [f"mem://store/_data/t/c-{i}"]
        v = log.commit(snap[0] if snap else 0, model,
                       base_tables=base if snap else None,
                       base_checkpoint=cp)
        hist[v] = {t: list(d) for t, d in model.items()}
    assert log.latest()[0] == 23
    for v in (1, 7, 13, 22, 23):
        assert log.resolve(v)["tables"] == hist[v], v
    log.vacuum({}, retain_last=2, min_age_s=0.0)
    assert log.versions()[0] == 21          # v22's checkpoint chain
    assert log.resolve(22)["tables"] == hist[22]


def test_lease_acquire_times_out_even_when_lock_unreadable(tmp_path):
    """Liveness: a lock whose mtime/read keeps failing (claim outlives
    its object mid-transition) must still hit the acquire deadline —
    the retry `continue`s used to skip the deadline check and spin
    forever."""
    fs = MemObjectFS()
    log = _mklog(fs)
    o = log.acquire_lease()

    real_mtime = fs.mtime

    def flaky_mtime(path):
        if path.endswith("LOCK"):
            raise FileNotFoundError(path)
        return real_mtime(path)

    fs.mtime = flaky_mtime
    t0 = time.time()
    with pytest.raises(TimeoutError):
        log.acquire_lease(timeout=1.5)
    assert time.time() - t0 < 10.0
    fs.mtime = real_mtime
    log.release_lease(o)


def test_stale_lease_breakable_on_copy_backends():
    """A dead holder's stale lease must be breakable on a backend whose
    rename stamps the COPY time (HadoopFS on s3a/gs/abfs; the fake here
    too).  The break path's mtime-freshness restore check assumes a
    rename carries the source mtime, true for hardlink/rename; on a
    copy it read every displaced stale lock as 'freshly held' and
    restored it — the restore re-stamped the mtime too, making the
    lease unbreakable forever.  The check is gated on
    RENAME_PRESERVES_MTIME."""
    fs = MemObjectFS()
    assert fs.RENAME_PRESERVES_MTIME is False
    log = _mklog(fs)
    log.acquire_lease()
    fs._mtime["mem://store/_log/LOCK"] = time.time() - 10_000   # "dead"
    taker = _mklog(fs)
    owner = taker.acquire_lease(timeout=5.0, lease_timeout=3600.0)
    assert json.loads(fs.read_bytes("mem://store/_log/LOCK"))["owner"] \
        == owner
    taker.release_lease(owner)
