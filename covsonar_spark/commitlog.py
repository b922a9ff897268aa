"""Log-structured commit protocol — ALL store mutations, on every
filesystem scheme.

The reference inherits mutation atomicity from SQLite's single-file
transaction (/root/reference/lib/sonardb.py:1316-1356).  This module is
the parquet store's replacement: a Delta/Iceberg-style versioned
metadata log that needs only

  * immutable blob writes (every data directory is written once under a
    fresh uuid name and never modified), and
  * ONE atomicity primitive: rename-without-replace of the commit file
    (Hadoop ``FileSystem.rename`` refuses an existing destination on
    HDFS/viewfs/local; posix gets the same put-if-absent from
    ``os.link``).  A raw object store without either plugs in through
    ``CommitLog(fs=...)`` with an adapter over its own conditional
    create; tests/test_logstore_contract.py is the contract it must
    pass.

Until round 6 this protocol ran only on remote-scheme roots while local
posix roots kept a rename-pair swap with ``.old`` crash repair.  Round
7 unified on the log everywhere: one mutation protocol to reason about,
and local stores get the same MVCC history / time travel / atomic
multi-table commits object-store roots have.  Local roots use
:class:`LocalFS` (pure Python — no py4j round-trips on the hot read
path); everything else uses :class:`HadoopFS`.

Protocol:

  * ``root/_log/v<20-digit>.json`` — commit N: either a CHECKPOINT (a
    full snapshot mapping each table to its ordered list of live data
    directories) or a DELTA (only the touched tables — an append is
    just the appended dirs — plus a pointer to the checkpoint it chains
    from), each with a unique commit ``id`` (uuid).  A checkpoint is
    written at least every ``CHECKPOINT_INTERVAL`` commits, bounding
    both per-commit metadata bytes on long-lived stores and any
    resolution's read fan-in (Delta Lake's checkpoint+delta shape).
  * writers stage new uuid-named directories under ``root/_data/``,
    then publish ONE commit covering every staged table — multi-table
    ingest is atomic, which a per-table swap protocol never had.
  * commit = write ``v<N+1>.json.tmp-<uuid>`` fully, then rename to the
    final name.  Exactly one concurrent committer wins the rename; the
    loser raises :class:`StoreWriteConflict` (its staged dirs become
    garbage for :meth:`vacuum`).  Readers only ever open fully-renamed
    commit files, so a torn commit is unobservable.
  * readers resolve the newest commit in O(1) object reads through the
    ``_log/_last`` hint, which embeds the fully RESOLVED snapshot
    (re-written after every commit; lagging hints are healed by
    probing/reading forward, a missing/torn hint falls back to listing
    + a checkpoint-chain walk) — resolving a 10k-commit log costs one
    read, not a 10k listing.
  * the commit ``id`` is what derived data (the file-skipping
    manifests) pins itself to: a manifest built inside a mutation that
    LOST the commit race carries an id no published commit ever has, so
    the zero-listing pruned read can never resolve a loser's file set
    (pinning to the version NUMBER had exactly that hole — the winner
    publishes the same number).
  * an ADVISORY lease file (``_log/LOCK``) serializes writers to avoid
    wasted work; correctness never depends on it — the rename race is
    the real arbiter.  Stale leases are broken by a rename to a fixed
    rendezvous name (put-if-absent: one concurrent breaker wins) with
    an owner-identity check so a fresh lock that replaced the stale one
    mid-break is put back, and holders heartbeat the lock mtime so a
    live multi-hour mutation is never "stale".

Crash windows: before the commit rename, nothing is published (staged
dirs are invisible garbage); after it, the mutation is complete.  There
is no half state.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid
from urllib.parse import urlparse

from pyspark.sql import SparkSession

LOG_DIR = "_log"
LOCK_NAME = "LOCK"
HINT_NAME = "_last"
FLOOR_NAME = "_floor"

# a full snapshot ("checkpoint") commit is written at least every this
# many commits; the ones between carry table DELTAS.  Bounds both the
# per-commit metadata bytes on wide stores (a delta holds only touched
# tables — an append is just the appended dirs) and the read fan-in of
# any resolution (checkpoint + at most interval-1 deltas).
CHECKPOINT_INTERVAL = 10

# seconds between lease-wait diagnostic lines on stderr (module-level
# so tests can shrink it instead of sleeping 30s)
LEASE_NOTE_INTERVAL = 30.0


class Snapshot(tuple):
    """``(version, tables, id)`` — a plain 3-tuple for the existing
    unpack/index sites — plus a ``checkpoint`` attribute (the version
    of the full-snapshot commit this resolution chains from) so
    committers can decide full-vs-delta without a second read."""

    checkpoint: int | None

    def __new__(cls, version: int, tables: dict, cid: str | None,
                checkpoint: int | None):
        s = super().__new__(cls, (version, tables, cid))
        s.checkpoint = checkpoint
        return s


def is_remote(path: str) -> bool:
    """True when ``path`` lives on a non-local filesystem scheme
    (hdfs://, s3a://, viewfs://, …) — i.e. os.* primitives don't
    apply.  Single-letter schemes are Windows drive letters."""
    scheme = urlparse(path).scheme
    return len(scheme) > 1 and scheme != "file"


class StoreWriteConflict(RuntimeError):
    """Another writer committed first; the mutation must be retried
    against the new snapshot (optimistic concurrency, Delta-style)."""


class StoreCommitIndeterminate(RuntimeError):
    """The commit publish errored in a way that leaves its outcome
    UNKNOWN (an object-store PUT that timed out — it may still land).
    The mutation session must NOT delete its staged data dirs: if the
    commit did land, a published snapshot references them.  Unclaimed
    dirs are reaped by vacuum once they out-age its floor; a commit
    still in flight past that floor is outside the protocol's
    assumptions (documented on :meth:`CommitLog.commit`)."""


class LocalFS:
    """Pure-Python posix implementation of the filesystem surface the
    commit log needs.  Local roots resolve the newest commit on EVERY
    table() call — that must cost microseconds of os.* work, not py4j
    round-trips into the JVM."""

    def __init__(self):
        # per-directory hardlink-support probe cache (exFAT / some
        # SMB / FUSE mounts have no os.link) — one probe per store
        self._link_ok: dict[str, bool] = {}

    @staticmethod
    def _p(path: str) -> str:
        if path.startswith("file://"):
            path = path[len("file:"):]
        return path

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))

    def mkdirs(self, path: str) -> None:
        os.makedirs(self._p(path), exist_ok=True)

    def delete(self, path: str, recursive: bool = True) -> bool:
        p = self._p(path)
        try:
            if os.path.isdir(p) and not os.path.islink(p):
                if recursive:
                    shutil.rmtree(p)
                else:
                    os.rmdir(p)
            else:
                os.remove(p)
            return True
        except OSError:
            return False

    def mtime(self, path: str) -> float:
        return os.path.getmtime(self._p(path))

    def touch(self, path: str) -> None:
        os.utime(self._p(path))

    def write_bytes(self, path: str, data: bytes,
                    overwrite: bool = True) -> None:
        p = self._p(path)
        if not overwrite and os.path.exists(p):
            raise FileExistsError(p)
        # atomic content publish: a concurrent reader of the _last hint
        # must never see a torn write
        tmp = f"{p}.wr-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, p)

    def read_bytes(self, path: str) -> bytes:
        with open(self._p(path), "rb") as fh:
            return fh.read()

    # write_bytes already publishes via tmp + os.replace — atomic
    write_bytes_atomic = write_bytes

    def rename_no_replace(self, src: str, dst: str) -> bool:
        """put-if-absent for FILES: hardlink (atomic, fails on an
        existing destination) then unlink the source — posix has no
        rename-without-replace syscall exposed to Python.  Filesystems
        without hardlinks (exFAT, some SMB/FUSE mounts — where the
        pre-unification swap protocol used to work) fall back to a
        mkdir-mutex emulation, probed once per directory."""
        src, dst = self._p(src), self._p(dst)
        if not self._supports_link(os.path.dirname(dst)):
            return self._rename_no_replace_gated(src, dst)
        try:
            os.link(src, dst)
        except FileExistsError:
            return False
        except FileNotFoundError:
            return False          # another renamer took src first
        try:
            os.unlink(src)
        except OSError:
            pass   # dst IS published; the stray src hardlink is tmp
            #        garbage vacuum reaps — failing the commit here
            #        would delete staged dirs a live commit references
        return True

    def _supports_link(self, d: str) -> bool:
        got = self._link_ok.get(d)
        if got is not None:
            return got
        probe = os.path.join(d, f".lnkprobe-{uuid.uuid4().hex[:8]}")
        ok = True     # probe inconclusive → let os.link surface errors
        conclusive = False
        try:
            with open(probe, "wb"):
                pass
            conclusive = True
            try:
                os.link(probe, probe + ".l")
            except OSError:
                ok = False    # conclusive: this mount has no hardlinks
            else:
                try:
                    os.unlink(probe + ".l")
                except OSError:
                    pass      # links WORK (os.link succeeded); the
                    #           leaked .lnkprobe-*.l is vacuum fodder —
                    #           a failed cleanup must not misclassify a
                    #           healthy mount as hardlink-less
        except OSError:
            pass
        finally:
            try:
                os.unlink(probe)
            except OSError:
                pass
        if conclusive:
            # an INCONCLUSIVE probe (couldn't even create the probe
            # file — transient EIO) is never cached: caching True there
            # would permanently disable the fallback on a mount that
            # needs it
            self._link_ok[d] = ok
        return ok

    @staticmethod
    def _gate_owner(gate: str) -> str | None:
        """The holder token stamped inside a gate dir, or None when
        the gate is unstamped (holder died between mkdir and stamp, or
        the stamp write failed)."""
        try:
            with open(os.path.join(gate, "owner")) as fh:
                return fh.read() or None
        except OSError:
            return None

    def _gate_state(self, gate: str) -> tuple[str | None, bool]:
        """(owner, is_stale) of a gate dir.  Staleness reads the OWNER
        STAMP's mtime when the gate is stamped (the stamp is written
        once, right after mkdir, and never touched again) and the dir
        mtime otherwise — so a claim dir appearing next to the gate
        never refreshes it.  OSError propagates (gate vanished)."""
        owner = self._gate_owner(gate)
        ref = os.path.join(gate, "owner") if owner is not None else gate
        return owner, (time.time() - os.path.getmtime(ref)) > 60.0

    def _rename_no_replace_gated(self, src: str, dst: str) -> bool:
        """Hardlink-less fallback: ``os.mkdir`` is atomic put-if-absent
        on every filesystem Python runs on, so a mutex dir gates an
        exists-check + ``os.replace``.  A holder that died inside the
        (milliseconds-long) critical section is broken once the gate is
        60 s old, and the 120 s wait deadline EXCEEDS the break
        threshold so a freshly-crashed holder's gate always self-heals
        within one wait instead of timing out every caller.

        Breaking is CLAIM-ARBITRATED with OWNERSHIP TAKEOVER: breakers
        race ``os.mkdir`` of the fixed sibling ``<gate>.claim`` dir —
        put-if-absent again, so of any set of concurrent breakers
        exactly one proceeds.  The claim winner re-verifies, UNDER the
        claim, that the gate at the path is still the generation it
        diagnosed (same owner stamp) and still stale; only then does
        it atomically REWRITE the owner stamp to its own identity and
        enter the critical section as the gate's new holder.  The gate
        is never removed-and-recreated by a breaker, so there is no
        absence window for a third writer to mkdir through; a wrongful
        claim (the stale gate was released and a fresh one created
        between diagnosis and claim) fails the re-verify and is
        revoked WITHOUT touching the live gate.  This replaces two
        earlier designs that each let two writers into the critical
        section: rmdir+retry (a losing breaker deleted the winner's
        fresh gate) and rename-to-unique+restore (the restore gap let
        a third writer mkdir while the live gate was renamed away).
        Holders in turn never release a gate while a claim is
        outstanding, so the takeover target cannot vanish (or be
        replaced by an innocent fresh gate) between the claim winner's
        re-verify and its stamp rewrite.  The only residual overlap is
        the documented one: a LIVE holder stalled past the 60 s
        threshold finishing concurrently with its usurper's critical
        section.  A claim whose owner died mid-break is itself GC'd
        once 60 s old (claims are empty dirs, removed with plain
        rmdir).

        The break threshold is deliberately generous: only a holder
        stalled 4+ orders of magnitude past its expected critical-
        section time (or a >60 s client/server mtime skew) is ever
        presumed dead.  Weaker than the hardlink path only in that
        window; these mounts previously had NO working commit path."""
        gate = dst + ".gate"
        claim = gate + ".claim"
        deadline = time.time() + 120.0
        my = uuid.uuid4().hex
        stamped = False
        while True:
            try:
                os.mkdir(gate)
            except FileExistsError:
                try:
                    stale_owner, is_stale = self._gate_state(gate)
                except OSError:
                    continue      # gate released/broken under us: retry
                if is_stale:
                    try:
                        os.mkdir(claim)
                    except FileExistsError:
                        # another breaker holds the claim; GC one whose
                        # owner died between claim and removal
                        try:
                            if (time.time()
                                    - os.path.getmtime(claim)) > 60.0:
                                os.rmdir(claim)
                        except OSError:
                            pass
                        # fall through to the wait/deadline path below
                    except (FileNotFoundError, NotADirectoryError):
                        return False    # parent vanished mid-publish
                    else:
                        took_over = False
                        try:
                            # re-verify the SAME generation, under the
                            # claim: a fresh gate (new owner, or young
                            # unstamped) must be left alone
                            try:
                                cur, still = self._gate_state(gate)
                            except OSError:
                                continue        # gate released: retry
                            if cur == stale_owner and still:
                                # TAKE OVER the dead holder's gate by
                                # atomically rewriting the owner stamp
                                # to our identity (fresh mtime, so
                                # other breakers see a live gate) —
                                # the gate is never absent, so no
                                # third writer can slip in through
                                # mkdir the way a remove+recreate
                                # break would allow
                                try:
                                    t = os.path.join(
                                        gate, f".o-{my[:12]}")
                                    with open(t, "w") as fh:
                                        fh.write(my)
                                    os.replace(
                                        t, os.path.join(gate, "owner"))
                                except OSError:
                                    continue    # gate vanished: retry
                                stamped = True
                                took_over = True
                            else:
                                continue
                        finally:
                            try:
                                os.rmdir(claim)
                            except OSError:
                                pass
                        if took_over:
                            break   # into the critical section as owner
                if time.time() > deadline:
                    raise TimeoutError(
                        f"rename gate stuck (holder died?): {gate}")
                time.sleep(0.05)
            except FileNotFoundError:
                return False      # parent vanished: nothing to publish
            else:
                try:
                    with open(os.path.join(gate, "owner"), "w") as fh:
                        fh.write(my)
                    stamped = True
                except OSError:
                    pass   # unstamped gate still mutually excludes; it
                    #        just can't be told apart mid-break
                break
        try:
            if os.path.exists(dst):
                return False
            try:
                os.replace(src, dst)
            except FileNotFoundError:
                return False      # another renamer took src first
            return True
        finally:
            # release THROUGH the claim: holders and breakers contend
            # on the same put-if-absent mkdir, so the ownership check
            # below is not check-then-act — while we hold the claim no
            # breaker can take the gate over, and while a breaker
            # holds it we leave the gate alone (the usurper releases
            # it at the end of its own critical section; a claim whose
            # breaker died ages out and the next breaker takes over).
            # Without this, a breaker claiming between our owner check
            # and our rmtree could be left gate-less mid-critical-
            # section, letting a third writer mkdir in.
            # The claim is held by OTHER RELEASERS only for the
            # microseconds between their mkdir(claim) and rmdir(claim)
            # — but a releaser descheduled inside that window while the
            # NEXT holder runs its whole critical section made that
            # holder skip cleanup and leak its gate (observed once
            # under a 30x-oversubscribed host: the next writer to the
            # same dst then pays the full 60 s staleness wait).  A
            # genuine breaker claim cannot target THIS gate — it is
            # seconds old, far from stale — so retry briefly instead
            # of skipping; the bounded deadline keeps a leaked claim
            # from stalling releases.
            release_deadline = time.time() + 1.0
            while True:
                try:
                    os.mkdir(claim)
                except OSError:
                    if time.time() > release_deadline:
                        break     # leaked claim: leave the gate to the
                        #           next breaker's staleness takeover
                    time.sleep(0.001)
                    continue
                try:
                    cur = self._gate_owner(gate)
                    if cur == my or (not stamped and cur is None):
                        shutil.rmtree(gate, ignore_errors=True)
                except OSError:
                    pass
                finally:
                    try:
                        os.rmdir(claim)
                    except OSError:
                        pass
                break

    def list_names(self, path: str) -> list[str]:
        p = self._p(path)
        try:
            return os.listdir(p)
        except FileNotFoundError:
            return []


class HadoopFS:
    """Thin py4j facade over the root's owning Hadoop FileSystem — the
    same FS Spark's reader resolves, so every scheme Spark can query
    can also host the commit log."""

    def __init__(self, spark: SparkSession, root: str):
        self._spark = spark
        self._root = root
        self._fs = None      # resolved lazily: constructing a store on
        #                      an unreachable mount must not throw —
        #                      the first actual access does
        # HDFS/viewfs rename moves the inode (mtime carried); the
        # object-store connectors emulate rename as copy+delete, which
        # stamps the copy time — the lease-break restore heuristic must
        # not trust mtime freshness across a rename there (see
        # acquire_lease)
        self.RENAME_PRESERVES_MTIME = urlparse(root).scheme not in {
            "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs",
            "oss", "cos", "swift"}

    @property
    def _Path(self):
        return self._spark._jvm.org.apache.hadoop.fs.Path

    @property
    def fs(self):
        if self._fs is None:
            self._fs = self._Path(self._root).getFileSystem(
                self._spark.sparkContext._jsc.hadoopConfiguration())
        return self._fs

    def exists(self, path: str) -> bool:
        return self.fs.exists(self._Path(path))

    def mkdirs(self, path: str) -> None:
        self.fs.mkdirs(self._Path(path))

    def delete(self, path: str, recursive: bool = True) -> bool:
        return self.fs.delete(self._Path(path), recursive)

    def mtime(self, path: str) -> float:
        return self.fs.getFileStatus(
            self._Path(path)).getModificationTime() / 1000.0

    def touch(self, path: str) -> None:
        self.fs.setTimes(self._Path(path), int(time.time() * 1000), -1)

    def write_bytes(self, path: str, data: bytes,
                    overwrite: bool = True) -> None:
        out = self.fs.create(self._Path(path), overwrite)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def read_bytes(self, path: str) -> bytes:
        # IOUtils RETURNS the array — py4j passes byte[] arguments by
        # value, so a readFully(buf) mutation would never reach Python
        inp = self.fs.open(self._Path(path))
        try:
            data = self._spark._jvm.org.apache.commons.io.IOUtils \
                .toByteArray(inp)
            return bytes(data)
        finally:
            inp.close()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        """Tear-free overwrite for reader-visible mutable files (the
        ``_last`` hint, the ``_floor`` marker): write a tmp name fully,
        delete the old file, rename into place.  ``fs.create`` in place
        would expose a truncated/partial file for the whole write —
        and the hint now carries a full table snapshot, so that window
        is no longer negligible.  The delete→rename gap shows ABSENCE,
        which every reader handles (hint: listing fallback; floor:
        default 1); a loser of a concurrent rename just drops its tmp
        (its hint/floor value is immediately superseded anyway)."""
        tmp = f"{path}.wr-{uuid.uuid4().hex[:8]}"
        self.write_bytes(tmp, data, overwrite=True)
        self.fs.delete(self._Path(path), False)
        if not self.fs.rename(self._Path(tmp), self._Path(path)):
            self.fs.delete(self._Path(tmp), False)

    def rename_no_replace(self, src: str, dst: str) -> bool:
        """Atomic publish: Hadoop's contract returns False when ``dst``
        exists (HDFS, viewfs, RawLocalFileSystem) — the put-if-absent
        primitive the commit race is decided by."""
        if self.fs.exists(self._Path(dst)):
            return False
        return bool(self.fs.rename(self._Path(src), self._Path(dst)))

    def list_names(self, path: str) -> list[str]:
        p = self._Path(path)
        if not self.fs.exists(p):
            return []
        return [st.getPath().getName() for st in self.fs.listStatus(p)]


class CommitLog:
    """The versioned snapshot log of one store root.

    ``fs`` defaults to :class:`LocalFS` for local roots and
    :class:`HadoopFS` for every other scheme.  Passing ``fs`` is the
    LogStore seam (Delta's ``LogStore`` analogue) that tests and
    raw-object-store adapters use: any object with the surface
    ``exists / mkdirs / delete / mtime / touch / write_bytes /
    write_bytes_atomic / read_bytes / rename_no_replace / list_names``
    (``write_bytes_atomic`` publishes the ``_last`` hint tear-free; an
    optional ``RENAME_PRESERVES_MTIME = False`` marks a rename that
    stamps the copy time, see :meth:`acquire_lease`).  The ONE
    semantic the protocol's correctness rests on: ``rename_no_replace``
    must be put-if-absent — of any set of concurrent callers targeting
    one destination, at most one returns True and the destination ends
    up with exactly that caller's complete payload.  It may return
    False (definitively lost) or RAISE (outcome unknown — commit() then
    decides by reading the slot back, see StoreCommitIndeterminate).
    tests/test_logstore_contract.py is the executable contract."""

    def __init__(self, spark: SparkSession, root: str, fs=None):
        self.root = root.rstrip("/")
        self.log_dir = f"{self.root}/{LOG_DIR}"
        if fs is not None:
            self.fs = fs
        else:
            self.fs = LocalFS() if not is_remote(root) \
                else HadoopFS(spark, root)

    # -- read side ----------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for name in self.fs.list_names(self.log_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def latest(self) -> Snapshot | None:
        """:class:`Snapshot` of the newest commit, or None when the log
        holds no commit (fresh / legacy store).  The ``_last`` hint —
        which carries the RESOLVED table snapshot, not just a version
        number — makes this O(1) object reads on the hot path (every
        table() resolution); a missing, torn, or lagging hint is healed
        by probing/reading forward (deltas apply on top of the hinted
        tables), and a hint that can't anchor resolution falls back to
        a listing + checkpoint-chain walk, retried once on a commit
        deleted between list and read (an aggressive vacuum)."""
        got = self._latest_hinted()
        if got is not None:
            return got
        for _ in range(2):
            vs = self.versions()
            if not vs:
                return None
            try:
                info = self.resolve(vs[-1])
            except ValueError:     # racing vacuum: re-list
                time.sleep(0.05)
                continue
            return Snapshot(vs[-1], info.get("tables", {}),
                            info.get("id"), info.get("checkpoint"))
        raise RuntimeError(f"commit log unreadable at {self.log_dir}")

    def _latest_hinted(self) -> Snapshot | None:
        """Resolve the newest commit through the ``_last`` hint: read
        the hint (1 read — it embeds the full resolved snapshot), probe
        FORWARD past any staleness (exists() calls — a hint can only
        lag, never lead, because it is written after the commit
        rename), and roll the hinted tables forward through any newer
        commits (full replaces, delta applies).  Any anomaly — no hint,
        torn json, a pre-checkpoint hint without tables, a commit
        vacuumed under us — returns None and the caller lists."""
        try:
            hint = json.loads(self.fs.read_bytes(
                f"{self.log_dir}/{HINT_NAME}").decode())
            hinted = int(hint["version"])
        except Exception:  # noqa: BLE001 — absent/torn hint: list
            return None
        if hinted < 1 or "tables" not in hint:
            return None
        if not self.fs.exists(self._commit_path(hinted)):
            # the hinted version was vacuumed away: a hint can lag far
            # behind head when committers crash between the commit
            # rename and the hint write, and vacuum may then reap the
            # hinted commit — trusting the embedded snapshot would
            # serve a stale (possibly data-reaped) version AND let a
            # mutation re-publish a vacuumed version number.  One
            # exists() probe keeps the fast path honest; the listing
            # fallback resolves the real head
            return None
        tables = hint["tables"]
        cid = hint.get("id")
        cp = hint.get("checkpoint")
        v = hinted
        while self.fs.exists(self._commit_path(v + 1)):
            try:
                raw = json.loads(self.fs.read_bytes(
                    self._commit_path(v + 1)).decode())
            except Exception:  # noqa: BLE001 — vacuumed under us: list
                return None
            tables = self._apply(tables, raw)
            cid = raw.get("id")
            cp = raw.get("checkpoint",
                         v + 1 if "tables" in raw else cp)
            v += 1
        return Snapshot(v, tables, cid, cp)

    @staticmethod
    def _apply(tables: dict, raw: dict) -> dict:
        """Roll ``tables`` forward through one commit json: a full
        commit replaces the map; a delta sets/appends/deletes the
        touched tables only."""
        if "tables" in raw:
            return dict(raw["tables"])
        out = dict(tables)
        d = raw.get("delta", {})
        for t, dirs in d.get("set", {}).items():
            out[t] = list(dirs)
        for t, dirs in d.get("add", {}).items():
            out[t] = list(out.get(t, [])) + list(dirs)
        for t in d.get("del", []):
            out.pop(t, None)
        return out

    def snapshot(self, version: int) -> dict:
        return self.resolve(version).get("tables", {})

    def data_floor(self) -> int:
        """The oldest version whose DATA dirs the last vacuum's
        retention still guarantees.  Versions below it may keep chain
        METADATA on disk (their commit files anchor retained deltas)
        but are not time-travelable — their data dirs may be reaped —
        so :meth:`resolve` refuses them instead of handing out paths
        that fail (or silently skip files) mid-read.  Monotonic:
        vacuum only ever raises it.  The floor is a single number —
        the smallest version ABOVE every version vacuum has broken —
        so an intact min-age-protected version sitting BELOW a higher
        broken one is conservatively refused too (safe direction:
        blocks readable data, never serves reaped data).

        Fails SAFE, not open.  The floor is rewritten IN PLACE (never
        delete→rename), so after the first floor-raising vacuum the
        marker is never absent: genuine absence (a store never floor-
        vacuumed) reads as 1 only after an exists() confirmation, and
        a marker that is present but torn/unreadable — or whose
        absence cannot be confirmed through a transient FS error —
        RAISES instead of defaulting, because defaulting would
        re-allow time travel to reaped versions.  (Vacuum repairs a
        torn marker pessimistically, see :meth:`vacuum`.)"""
        path = f"{self.log_dir}/{FLOOR_NAME}"
        last_exc: Exception | None = None
        for attempt in range(3):
            try:
                # read-first: the common present-marker case costs ONE
                # round trip; only the failure path probes existence
                return int(json.loads(
                    self.fs.read_bytes(path).decode())["min_version"])
            except Exception as exc:  # noqa: BLE001
                last_exc = exc
                try:
                    if not self.fs.exists(path):
                        return 1      # confirmed absent: never vacuumed
                except Exception:  # noqa: BLE001 — can't confirm: retry
                    pass
                if attempt < 2:
                    time.sleep(0.05)
        raise RuntimeError(
            f"retention floor marker {path} is unreadable and its "
            f"absence cannot be confirmed — refusing to default (time "
            f"travel could resolve reaped data)") from last_exc

    def resolve(self, version: int, _check_floor: bool = True) -> dict:
        """The commit info of ``version`` with its table snapshot fully
        RECONSTRUCTED: a checkpoint commit is returned as-is; a delta
        commit reads its anchoring checkpoint and rolls forward through
        the intermediate deltas (at most ``CHECKPOINT_INTERVAL`` reads
        by construction).  Raises ValueError when the version was never
        committed, its chain was vacuumed past retention, or it is
        below the :meth:`data_floor` (commit file kept only as chain
        metadata — its data dirs are not retained)."""
        floor = self.data_floor() if _check_floor else 0
        if version < floor:
            raise ValueError(
                f"commit version {version} under {self.log_dir} is "
                f"below the vacuum retention floor ({floor}): its "
                f"data dirs are no longer guaranteed (commit file "
                f"kept only to anchor newer deltas)")
        raw = self.read_commit(version)
        if "tables" in raw:
            raw.setdefault("checkpoint", version)
            return raw
        cp = raw.get("checkpoint")
        if not isinstance(cp, int) or not 0 < cp < version:
            raise ValueError(
                f"commit version {version} under {self.log_dir} is a "
                f"delta with an unusable checkpoint pointer {cp!r}")
        tables = self.read_commit(cp).get("tables", {})
        for v in range(cp + 1, version):
            tables = self._apply(tables, self.read_commit(v))
        tables = self._apply(tables, raw)    # already read: no re-read
        return {"version": version, "id": raw.get("id"),
                "committed_at": raw.get("committed_at"),
                "checkpoint": cp, "tables": tables}

    def resolve_range(self, versions: list[int],
                      _check_floor: bool = True,
                      strict: bool = False) -> dict[int, dict]:
        """Resolved commit info for each of ``versions`` in ONE forward
        walk: read the oldest one's checkpoint, then roll a single
        table map through every commit up to the newest, snapshotting
        at each requested version.  Total reads = (newest - checkpoint
        + 1) ≤ len(span) + CHECKPOINT_INTERVAL — the history(limit=n)
        path must never cost O(log length) reads.  Versions whose
        commit file is gone (racing vacuum) are silently omitted —
        unless ``strict``, which re-raises instead: vacuum's garbage
        classification must never mistake "couldn't read the version
        that references this dir" for "no version references it"."""
        want = sorted(set(versions))
        if not want:
            return {}
        try:
            lo = self.resolve(want[0], _check_floor)
        except ValueError:
            if strict:
                raise
            # oldest wanted version already vacuumed: drop leading
            # victims one by one (bounded by len(want))
            return self.resolve_range(want[1:], _check_floor)
        out = {want[0]: lo}
        tables = lo["tables"]
        wanted = set(want[1:])
        broken = False          # an intermediate read failed: the
        #                         rolled map is stale until a full
        #                         commit (or a per-version resolve)
        #                         re-anchors it
        for v in range(want[0] + 1, want[-1] + 1):
            try:
                raw = self.read_commit(v)
            except ValueError:
                if strict:
                    raise
                broken = True
                continue
            if broken and "tables" not in raw:
                if v in wanted:
                    try:
                        out[v] = self.resolve(v, _check_floor)
                        tables = out[v]["tables"]   # re-anchored
                        broken = False
                    except ValueError:
                        pass
                continue
            broken = False
            tables = self._apply(tables, raw)
            if v in wanted:
                out[v] = {"version": v, "id": raw.get("id"),
                          "committed_at": raw.get("committed_at"),
                          "checkpoint": raw.get(
                              "checkpoint",
                              v if "tables" in raw else None),
                          "tables": tables}
        return out

    def read_commit(self, version: int) -> dict:
        """The RAW commit json of ``version`` (a delta commit comes
        back as written — use :meth:`resolve` for the reconstructed
        snapshot); raises when that version was never committed or its
        commit file was vacuumed."""
        try:
            raw = self.fs.read_bytes(self._commit_path(version))
        except Exception as exc:  # noqa: BLE001
            raise ValueError(
                f"commit version {version} not found under "
                f"{self.log_dir} (never committed, or vacuumed past "
                f"retention)") from exc
        return json.loads(raw.decode())

    # -- write side -----------------------------------------------------

    def _commit_path(self, version: int) -> str:
        return f"{self.log_dir}/v{version:020d}.json"

    def commit(self, base_version: int, tables: dict,
               commit_id: str | None = None,
               base_tables: dict | None = None,
               base_checkpoint: int | None = None) -> int:
        """Publish ``tables`` as version ``base_version + 1``.  Raises
        :class:`StoreWriteConflict` when that version already exists —
        exactly one of any set of racing committers wins.  ``commit_id``
        (pre-generated by the mutation session so derived data written
        BEFORE the commit can pin itself to it) defaults to a fresh
        uuid; it must never be reused across commits.

        With ``base_tables`` + ``base_checkpoint`` (the snapshot the
        mutation read, straight off :meth:`latest`'s return) the commit
        is written as a DELTA — only the touched tables, appends as the
        appended dirs alone — unless ``CHECKPOINT_INTERVAL`` commits
        have passed since the anchoring checkpoint, in which case a
        fresh full snapshot is written.  Without them (first commit,
        legacy adoption, direct callers) a full snapshot is written —
        always safe, just bigger.  Either way the ``_last`` hint gets
        the fully RESOLVED snapshot, so hot-path readers stay O(1)."""
        new_v = base_version + 1
        cid = commit_id or uuid.uuid4().hex
        body = {"version": new_v, "id": cid, "committed_at": time.time()}
        checkpoint = new_v
        if (base_tables is not None and isinstance(base_checkpoint, int)
                and 0 < base_checkpoint <= base_version
                and new_v - base_checkpoint < CHECKPOINT_INTERVAL):
            delta = self._diff(base_tables, tables)
            body["checkpoint"] = checkpoint = base_checkpoint
            body["delta"] = delta
        else:
            body["checkpoint"] = new_v
            body["tables"] = tables
        raw = json.dumps(body, indent=1).encode()
        self.fs.mkdirs(self.log_dir)
        tmp = f"{self._commit_path(new_v)}.tmp-{uuid.uuid4().hex[:8]}"
        self.fs.write_bytes(tmp, raw, overwrite=True)
        try:
            won = self.fs.rename_no_replace(tmp, self._commit_path(new_v))
        except Exception as exc:  # noqa: BLE001
            # INDETERMINATE publish (an object-store conditional PUT
            # that timed out after possibly landing).  A False here
            # would be catastrophic: the session would raise conflict
            # and delete staged dirs a PUBLISHED commit references.
            # Decide by reading the slot back — OUR id there means the
            # rename landed before the error
            won = None
            for _ in range(3):
                try:
                    won = json.loads(self.fs.read_bytes(
                        self._commit_path(new_v)).decode()
                    ).get("id") == cid
                    break
                except Exception:  # noqa: BLE001 — nothing readable yet
                    time.sleep(0.2)
            if won is None:
                raise StoreCommitIndeterminate(
                    f"commit of version {new_v} under {self.log_dir} "
                    f"failed indeterminately ({exc!r}) and the slot "
                    f"stayed unreadable: the publish may still land — "
                    f"staged data must be left for vacuum, not deleted"
                ) from exc
        if not won:
            self.fs.delete(tmp, recursive=False)
            raise StoreWriteConflict(
                f"version {new_v} was committed concurrently under "
                f"{self.log_dir}; retry the mutation on the new snapshot")
        try:
            # best-effort hint refresh: readers heal a stale hint by
            # probing forward, so a crash here (or two winners writing
            # out of order) costs extra reads, never correctness
            self.fs.write_bytes_atomic(
                f"{self.log_dir}/{HINT_NAME}",
                json.dumps({"version": new_v, "id": cid,
                            "checkpoint": checkpoint,
                            "tables": tables}).encode())
        except Exception:  # noqa: BLE001
            pass
        return new_v

    @staticmethod
    def _diff(base: dict, tables: dict) -> dict:
        """Minimal delta turning ``base`` into ``tables``: an untouched
        table is absent; a pure append carries only the appended dirs;
        anything else carries the table's full new list."""
        set_, add, del_ = {}, {}, []
        for t, dirs in tables.items():
            b = base.get(t)
            if b == dirs:
                continue
            if b and len(dirs) > len(b) and dirs[:len(b)] == b:
                add[t] = dirs[len(b):]
            else:
                set_[t] = dirs
        del_ = [t for t in base if t not in tables]
        out = {}
        if set_:
            out["set"] = set_
        if add:
            out["add"] = add
        if del_:
            out["del"] = del_
        return out

    # -- advisory writer lease -----------------------------------------

    def acquire_lease(self, timeout: float = 600.0,
                      lease_timeout: float = 3600.0) -> str:
        """Best-effort writer serialization (avoids wasted staged work;
        the commit rename stays the correctness arbiter).  Returns the
        owner token the holder heartbeats/releases with.

        The lease is a put-if-absent file.  A holder whose lock mtime
        is older than ``lease_timeout`` is presumed dead (live holders
        heartbeat, see :meth:`heartbeat`) and broken by RENAMING the
        lock to a fixed rendezvous name — put-if-absent again, so of
        any set of concurrent breakers exactly one proceeds (the
        delete-then-recreate break this replaced let two waiters both
        "acquire").  The winner re-reads the renamed lock: if its owner
        is no longer the one diagnosed stale (a fresh lock replaced it
        mid-break), the rename is undone.  The residual window — a
        third writer acquiring between a wrongful break and its undo —
        degrades to duplicate staged work resolved by the commit race,
        never corruption."""
        lock = f"{self.log_dir}/{LOCK_NAME}"
        breaking = f"{lock}.breaking"
        self.fs.mkdirs(self.log_dir)
        deadline = time.time() + timeout
        # long waits (vacuum defaults to outlasting the staleness
        # threshold) are silent otherwise — surface WHY we're waiting
        # so an operator can tell post-crash healing (lock aging toward
        # breakable) from waiting out a live long mutation (heartbeats
        # keep the mtime fresh, so the wait never succeeds early)
        next_note = time.time() + LEASE_NOTE_INTERVAL
        owner = uuid.uuid4().hex
        me = json.dumps({"owner": owner, "at": time.time()}).encode()
        age: float | None = None
        while True:
            # deadline check at the TOP: every `continue` below (lock
            # released/unreadable between probes) used to skip the
            # bottom-of-loop check, so a lock that repeatedly failed to
            # read spun forever instead of raising
            if time.time() > deadline:
                held = f"held {age:.0f}s; " if age is not None else ""
                raise TimeoutError(
                    f"another writer holds the store lease {lock} "
                    f"({held}waited {timeout:.0f}s"
                    + (" — holder is heartbeating, i.e. a LIVE "
                       "mutation, not a crash; retry after it "
                       "finishes or raise the wait"
                       if age is not None and age <= lease_timeout
                       else "") + ")")
            tmp = f"{lock}.tmp-{uuid.uuid4().hex[:8]}"
            self.fs.write_bytes(tmp, me, overwrite=True)
            if self.fs.rename_no_replace(tmp, lock):
                return owner
            self.fs.delete(tmp, recursive=False)
            try:
                # GC a rendezvous file orphaned by a breaker that died
                # between its rename win and delete — else no lease
                # could ever be broken again
                if (time.time() - self.fs.mtime(breaking)) > lease_timeout:
                    self.fs.delete(breaking, recursive=False)
            except Exception:  # noqa: BLE001 — no orphan
                pass
            try:
                age = time.time() - self.fs.mtime(lock)
                stale_owner = json.loads(
                    self.fs.read_bytes(lock).decode()).get("owner")
            except Exception:  # noqa: BLE001 — released between checks
                # drop the stale reading: diagnostics (periodic note,
                # timeout message) must not report a holder "held Ns /
                # LIVE" from an earlier iteration when the lock has
                # been unreadable ever since
                age = None
                continue
            if time.time() >= next_note:
                next_note = time.time() + LEASE_NOTE_INTERVAL
                state = (
                    f"holder heartbeated {age:.0f}s ago (LIVE writer — "
                    f"waiting for it to finish; it only becomes "
                    f"breakable after {lease_timeout:.0f}s of silence)"
                    if age <= lease_timeout else
                    f"lock is {age:.0f}s stale — breaking it")
                sys.stderr.write(
                    f"[covsonar_spark] waiting on writer lease {lock}: "
                    f"{state}; {max(0.0, deadline - time.time()):.0f}s "
                    f"left before TimeoutError\n")
            if age > lease_timeout:
                try:
                    # re-read the age IMMEDIATELY before the break: the
                    # diagnosis above may be an iteration old, and a
                    # wrongful break of a freshly-acquired lock opens
                    # the (advisory-only, but avoidable) restore gap
                    if (time.time()
                            - self.fs.mtime(lock)) <= lease_timeout:
                        continue
                except Exception:  # noqa: BLE001 — released: retry
                    continue
                if self.fs.rename_no_replace(lock, breaking):
                    fresh = False
                    if getattr(self.fs, "RENAME_PRESERVES_MTIME", True):
                        try:
                            # a fresh mtime proves a live lock was
                            # displaced even when its owner record is
                            # unreadable.  Only meaningful on backends
                            # whose rename carries the source mtime
                            # (hardlink/rename); copy-based renames
                            # (HadoopFS on s3a/gs/abfs) stamp the copy
                            # time, which ALWAYS reads fresh — trusting
                            # it restored every displaced stale lock
                            # and made a dead holder's lease
                            # unbreakable forever
                            fresh = (time.time()
                                     - self.fs.mtime(breaking)
                                     ) <= lease_timeout
                        except Exception:  # noqa: BLE001
                            pass
                    try:
                        cur = json.loads(self.fs.read_bytes(
                            breaking).decode()).get("owner")
                    except Exception:  # noqa: BLE001
                        cur = stale_owner
                    if fresh or cur != stale_owner:
                        # we displaced a FRESH lock that replaced the
                        # stale one between check and rename: restore it
                        if not self.fs.rename_no_replace(breaking, lock):
                            self.fs.delete(breaking, recursive=False)
                    else:
                        self.fs.delete(breaking, recursive=False)
                continue
            time.sleep(0.2)

    def heartbeat(self, owner: str) -> bool:
        """Refresh the lock mtime so a live long mutation is never
        diagnosed stale.  Verifies ownership first: after a (wrongful)
        break + re-acquire the lock belongs to someone else and
        touching it would keep THEIR lease alive while confusing the
        staleness clock.  Returns False when the lease is no longer
        ours (caller keeps working — the lease is advisory)."""
        lock = f"{self.log_dir}/{LOCK_NAME}"
        try:
            if json.loads(self.fs.read_bytes(
                    lock).decode()).get("owner") != owner:
                return False
            self.fs.touch(lock)
            return True
        except Exception:  # noqa: BLE001 — lock gone / FS hiccup
            return False

    def release_lease(self, owner: str | None = None) -> None:
        lock = f"{self.log_dir}/{LOCK_NAME}"
        if owner is not None:
            try:
                if json.loads(self.fs.read_bytes(
                        lock).decode()).get("owner") != owner:
                    return       # broken + re-acquired: not ours to drop
            except Exception:  # noqa: BLE001 — already gone
                return
        self.fs.delete(lock, recursive=False)

    # -- garbage collection ----------------------------------------------

    def vacuum(self, tables_root: dict[str, str],
               retain_last: int = 2, min_age_s: float = 3600.0,
               legacy_paths: dict[str, str] | None = None) -> int:
        """Delete data directories referenced by NO retained commit and
        older than ``min_age_s`` (uncommitted garbage from crashed or
        conflicted writers, and dirs superseded past the retention
        window), plus superseded commit files and orphaned tmp files.
        ``tables_root`` maps table name → its log-managed data area.
        ``legacy_paths`` maps table name → the pre-log plain directory;
        a legacy dir that no retained snapshot references anymore (its
        table was replaced through the log) is reaped like any other
        superseded dir — without this, adopting a 100 TB legacy store
        into the log would strand a full stale copy forever.

        Retention keeps time travel working for the retained window: a
        reader pinned to any kept version must keep resolving both its
        data dirs AND its commit file, so superseded commit files honor
        the same ``min_age_s`` floor the data dirs do (metadata must
        outlive the data it references)."""
        retain_last = max(retain_last, 1)   # the latest commit is never
        #                                     collectable — it IS the table
        vs = self.versions()
        keep_vs = vs[-retain_last:] if vs else []
        live: set[str] = set()          # uuid dir basenames
        live_full: set[str] = set()     # full dir paths (legacy adoptions)
        # a retained DELTA commit resolves through its checkpoint chain,
        # so every commit file back to the oldest retained version's
        # checkpoint must outlive it (metadata outlives the data it
        # resolves) — that extends json retention by at most
        # CHECKPOINT_INTERVAL tiny files, never data dirs
        cp_keep = keep_vs[0] if keep_vs else 0
        for v in keep_vs:
            # floor-unchecked: vacuum itself resolves versions at the
            # floor boundary for the live set
            info = self.resolve(v, _check_floor=False)
            if v == keep_vs[0]:
                cp = info.get("checkpoint")
                if isinstance(cp, int) and 0 < cp < cp_keep:
                    cp_keep = cp
            for dirs in info.get("tables", {}).values():
                for d in dirs:
                    d = d.rstrip("/")
                    live.add(d.rsplit("/", 1)[-1])
                    live_full.add(d)
        # PLAN the data-dir deletions first (one listing per area plus
        # mtime probes) …
        now = time.time()
        candidates: list[tuple[str, str]] = []     # (path, reference key)
        for table, area in tables_root.items():
            for name in self.fs.list_names(area):
                if not name.startswith("c-"):
                    continue          # not a log-managed data dir
                path = f"{area}/{name}"
                if name in live:
                    continue
                try:
                    if now - self.fs.mtime(path) < min_age_s:
                        continue
                except Exception:  # noqa: BLE001 — vanished under us
                    continue
                candidates.append((path, name))
        for table, path in (legacy_paths or {}).items():
            path = path.rstrip("/")
            if not keep_vs or path in live_full:
                continue              # still referenced (or no log yet)
            if not self.fs.exists(path):
                continue
            try:
                if now - self.fs.mtime(path) < min_age_s:
                    continue
            except Exception:  # noqa: BLE001
                continue
            candidates.append((path, path))
        # … then, ONLY if something is deletable, resolve what the
        # SUB-retention versions still reference (optimize()'s after-
        # every-mutation vacuum usually plans nothing, and must not
        # pay a chain walk — nor may it raise the floor: deleting
        # uncommitted garbage or deleting nothing leaves time travel
        # to intact versions working).  Each reference key maps to the
        # HIGHEST sub-retention version using it, so the floor rises
        # exactly past the versions this plan actually breaks — not
        # blindly to the retention boundary
        old_ref: dict[str, int] = {}
        walk_unknown = False
        if candidates and keep_vs:
            try:
                rng = self.resolve_range(vs[:-retain_last],
                                         _check_floor=False, strict=True)
            except Exception:  # noqa: BLE001 — transient read failure:
                # the walk is STRICT because a silently-omitted version
                # would make its dirs look like pure garbage; with an
                # incomplete map we must assume every candidate may be
                # referenced
                walk_unknown = True
                rng = {}
            for v, info in rng.items():
                for dirs in info.get("tables", {}).values():
                    for d in dirs:
                        d = d.rstrip("/")
                        for key in (d.rsplit("/", 1)[-1], d):
                            old_ref[key] = max(old_ref.get(key, 0), v)
        if walk_unknown:
            broken = keep_vs[0] - 1      # conservative: floor to the
            #                              retention boundary, making
            #                              EVERY candidate deletable
        else:
            broken = max((old_ref.get(key, 0) for _p, key in candidates),
                         default=0)
        if broken and keep_vs:
            # publish the floor BEFORE executing any breaking deletion:
            # readers must refuse sub-floor time travel from the
            # instant its data stops being guaranteed (monotonic max —
            # a later vacuum cannot resurrect reaped data)
            try:
                old_floor = self.data_floor()
            except RuntimeError:
                # torn/unreadable marker: repair PESSIMISTICALLY to the
                # newest version (monotonicity bounds any prior floor
                # by it) — older-but-intact versions lose time travel,
                # but refusing to repair would brick GC forever (vacuum
                # is the only writer of the marker)
                old_floor = vs[-1] if vs else 1
            floor = max(old_floor, broken + 1)
            try:
                # IN PLACE, never delete→rename: after the first
                # floor-raising vacuum the marker must never be absent
                # (absence reads as "no floor"); a torn in-place write
                # degrades to data_floor() failing CLOSED instead
                self.fs.write_bytes(
                    f"{self.log_dir}/{FLOOR_NAME}",
                    json.dumps({"min_version": floor}).encode(),
                    overwrite=True)
            except Exception:  # noqa: BLE001
                # fail CLOSED: without a published floor, deleting a
                # referenced dir would leave time travel resolving
                # reaped data — keep only the provably-pure-garbage
                # deletions (none at all when the chain walk failed:
                # nothing is provable then)
                candidates = [] if walk_unknown else [
                    (p, k) for p, k in candidates
                    if old_ref.get(k, 0) == 0]
        # … then execute
        removed = 0
        for path, _key in candidates:
            if self.fs.delete(path):
                removed += 1
        for v in vs[:-retain_last]:
            if v >= cp_keep:
                continue      # part of a retained version's delta chain
            p = self._commit_path(v)
            try:
                if now - self.fs.mtime(p) < min_age_s:
                    continue          # a pinned reader may still open it
            except Exception:  # noqa: BLE001
                continue
            self.fs.delete(p, recursive=False)
        for name in self.fs.list_names(self.log_dir):
            # .tmp-/.wr- : torn staged writes; .gate/.gate.claim :
            # mkdir-mutex dirs leaked by a holder (or breaker) that
            # died mid-critical-section on a hardlink-less mount;
            # .lnkprobe- : probe files leaked between create and
            # unlink; .cp- : conditional-put staging that roots written
            # by earlier builds may hold, leaked by a crash between
            # write and unlink.  All honor the min-age floor so a LIVE
            # gate/claim/probe is never deleted.
            if (".tmp-" in name or ".wr-" in name
                    or ".gate" in name or ".cp-" in name
                    or name.startswith(".lnkprobe-")):
                # gates are DIRS holding an owner stamp — recursive
                recursive = ".gate" in name
                path = f"{self.log_dir}/{name}"
                try:
                    if now - self.fs.mtime(path) >= min_age_s:
                        self.fs.delete(path, recursive=recursive)
                except Exception:  # noqa: BLE001
                    continue
        return removed
