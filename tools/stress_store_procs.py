"""Cross-PROCESS store stress on the UNIFIED commit-log protocol
(round 7: local posix roots mutate through commitlog.py like every
other scheme) — real OS processes, not threads, including a genuine
``kill -9`` inside the commit protocol's crash windows.

Phases, each child a full Python+Spark process (``local[4]``, its own
JVM) unless noted:

1. reader-under-writer — a reader process hammers ``table("genomes")``
   (count + a full-scan aggregate) while the parent runs back-to-back
   overwrite mutations (update_metadata). Contract: every read sees a
   complete committed generation — exactly N rows, never 0, never
   partial (MVCC: superseded dirs are retained, so no transient errors
   are expected at all).
2. competing writers — two writer processes each apply K sequential
   metadata updates to DISJOINT columns; the advisory lease serializes
   them and the commit race arbitrates any residue. Contract: no lost
   update — the final table holds BOTH writers' last values and the
   log is a linear version sequence.
3. kill -9 BEFORE the commit rename — a writer child stages its dirs
   then hangs right before publishing; the parent SIGKILLs it there.
   Contract: NOTHING is published (reader sees the pre-crash table),
   the dead writer's lease is breakable, the staged garbage is
   invisible and vacuum() reaps it, and the store mutates again.
4. kill -9 AFTER the commit rename — the mutation IS the published
   state the instant the rename lands. Contract: a fresh reader sees
   the new table even though the writer never returned.
5. two-process stale-lease break race (no Spark) — both children
   diagnose the same stale LOCK; the rename-rendezvous break must let
   AT MOST ONE acquire.

Usage:
    python tools/stress_store_procs.py              # orchestrate all
    python tools/stress_store_procs.py <phase> ...  # internal (children)
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_GENOMES = 24
READ_SECONDS = 25.0
K_UPDATES = 6


def _spark(name: str):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master("local[4]").appName(name)
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.showConsoleProgress", "false")
            .getOrCreate())


def _open(spark, root):
    from covsonar_spark.store import SonarStore
    return SonarStore.open(spark, root,
                           ref_path="/root/reference/lib/ref.fna",
                           gff_path="/root/reference/lib/ref.gff3")


def seed(root: str) -> None:
    """Parent: ingest N_GENOMES mutated genomes."""
    import random

    spark = _spark("store-stress-seed")
    st = _open(spark, root)
    rng = random.Random(7)
    ref = st.ref_seq
    rows = []
    for i in range(N_GENOMES):
        s = list(ref)
        for _ in range(10):
            p = rng.randrange(300, len(s) - 300)
            s[p] = rng.choice("ACGT")
        rows.append((f"ACC{i:04d}", "stress genome", "".join(s)))
    recs = spark.createDataFrame(rows, "accession string, description string, sequence string")
    rep = st.add_fasta_df(recs)
    assert rep["paranoid_mismatches"] == [], rep
    assert st.table("genomes").count() == N_GENOMES


# ---------------------------------------------------------------- children

def child_reader(root: str, seconds: float) -> None:
    """Hammer reads; any 0-row / partial / failed read is a contract
    violation. Prints one JSON line with the observed generations."""
    spark = _spark("store-stress-reader")
    st = _open(spark, root)
    deadline = time.time() + seconds
    reads = transients = 0
    while time.time() < deadline:
        try:
            df = st.table("genomes")
            n = df.count()
            # full-scan aggregate: real file reads, not footer counts
            n_acc = df.select("accession").distinct().count()
        except Exception:  # noqa: BLE001
            # under MVCC a read should never fail while retention
            # holds; count (expect 0) but don't hard-fail on a single
            # vacuum-race transient
            transients += 1
            continue
        if n != N_GENOMES or n_acc != N_GENOMES:
            print(json.dumps({"ok": False, "read": reads,
                              "n": n, "n_acc": n_acc}))
            sys.exit(1)
        reads += 1
    print(json.dumps({"ok": True, "reads": reads,
                      "transient_errors": transients}))


def child_writer(root: str, col: str, k: int) -> None:
    """k sequential single-column metadata updates under the lease."""
    spark = _spark(f"store-stress-writer-{col}")
    st = _open(spark, root)
    accs = [f"ACC{i:04d}" for i in range(N_GENOMES)]
    for i in range(k):
        # updates are LITERAL rows (the caller's own data), not a read
        # of the live table: deriving an update from an un-leased read
        # races the competing writer by construction — that is a
        # caller bug, not a store one
        upd = spark.createDataFrame(
            [(a, f"{col}-v{i}-{a}") for a in accs],
            f"accession string, {col} string")
        st.update_metadata(upd)
    print(json.dumps({"ok": True, "col": col, "last": k - 1}))


def child_killcommit(root: str, marker: str, when: str) -> None:
    """Run one overwrite mutation but hang (to be SIGKILLed) either
    right BEFORE the commit rename (when=pre: staged-but-unpublished,
    the mutation must vanish) or right AFTER it (when=post: the
    mutation is durable even though the writer never returns)."""
    spark = _spark("store-stress-killcommit")
    st = _open(spark, root)
    fsobj = st._log.fs
    real_rename = fsobj.rename_no_replace

    def hook(src, dst):
        if "/_log/v" in dst and when == "pre":
            with open(marker, "w") as fh:
                fh.write("pre-commit\n")
            time.sleep(600)          # parent kills us here
        ok = real_rename(src, dst)
        if "/_log/v" in dst and when == "post" and ok:
            with open(marker, "w") as fh:
                fh.write("post-commit\n")
            time.sleep(600)          # parent kills us here
        return ok

    fsobj.rename_no_replace = hook
    upd = spark.createDataFrame(
        [(f"ACC{i:04d}", "doomed" if when == "pre" else "landed")
         for i in range(N_GENOMES)],
        "accession string, zip string")
    st.update_metadata(upd)          # never returns


def child_postcrash_read(root: str) -> None:
    spark = _spark("store-stress-postread")
    st = _open(spark, root)
    df = st.table("genomes")
    rows = df.select("accession", "technology", "zip") \
        .orderBy("accession").collect()
    zips = sorted({r["zip"] for r in rows})
    print(json.dumps({"ok": True, "n": len(rows),
                      "sample_acc": rows[0]["accession"],
                      "sample": rows[0]["technology"],
                      "zips": zips}))


def child_recover(root: str) -> None:
    """Operator-style recovery after a dead writer: break the stale
    lease (delete — the holder is provably dead here), vacuum the
    staged garbage, then prove the store mutates again."""
    import shutil

    from pyspark.sql import functions as F

    spark = _spark("store-stress-recover")
    st = _open(spark, root)
    shutil.rmtree(os.path.join(root, "_log", "LOCK"), ignore_errors=True)
    try:
        os.remove(os.path.join(root, "_log", "LOCK"))
    except OSError:
        pass
    n = st.table("genomes").count()
    garbage = st._log.vacuum({t: st._data_area(t) for t in
                              ("genomes", "sequences", "profiles",
                               "dna_variants", "prot_variants")},
                             retain_last=2, min_age_s=0.0)
    upd = st.table("genomes").select(
        "accession", F.lit("healed").alias("zip"))
    st.update_metadata(upd)                # proves the lease is free again
    n2 = st.table("genomes").where(F.col("zip") == "healed").count()
    print(json.dumps({"ok": n == n2 == N_GENOMES, "n": n,
                      "vacuumed": garbage}))


def child_breaker(root: str) -> None:
    """Try to break + acquire a stale lease; report win/lose."""
    from covsonar_spark.commitlog import CommitLog

    log = CommitLog(None, root)
    try:
        owner = log.acquire_lease(timeout=3.0, lease_timeout=3600.0)
        print(json.dumps({"won": True, "owner": owner}))
    except TimeoutError:
        print(json.dumps({"won": False}))


# ------------------------------------------------------------ orchestration

def _run_child(phase: str, *args: str, wait: bool = True):
    cmd = [sys.executable, os.path.abspath(__file__), phase, *args]
    suffix = "".join(c if c.isalnum() else "_" for c in (args[-1] if args else ""))[-8:]
    errlog = open(os.path.join(tempfile.gettempdir(),
                               f"store-stress-{phase}-{suffix}.err"), "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errlog,
                         text=True, cwd=REPO)
    if not wait:
        return p
    out, _ = p.communicate(timeout=600)
    line = out.strip().splitlines()[-1] if out.strip() else "{}"
    return p.returncode, json.loads(line)


def orchestrate(root: str) -> None:
    from pyspark.sql import functions as F

    print("== seed", flush=True)
    seed(root)
    spark = _spark("store-stress-parent")
    st = _open(spark, root)

    print("== phase 1: reader process under writer mutations", flush=True)
    reader = _run_child("reader", root, str(READ_SECONDS), wait=False)
    t_end = time.time() + READ_SECONDS - 3
    i = 0
    while time.time() < t_end:
        upd = st.table("genomes").select(
            "accession", F.lit(f"wave-{i}").alias("technology"))
        st.update_metadata(upd)
        i += 1
    out, _ = reader.communicate(timeout=120)
    res = json.loads(out.strip().splitlines()[-1])
    assert reader.returncode == 0 and res["ok"], f"reader violation: {res}"
    assert res["reads"] >= 5, f"reader starved: {res}"
    assert res["transient_errors"] == 0, \
        f"MVCC reads must never fail mid-retention: {res}"
    print(f"   reader: {res['reads']} clean reads across {i} overwrites, "
          f"0 transients")

    print("== phase 2: two competing writer processes", flush=True)
    v_before = st._log.latest()[0]
    w1 = _run_child("writer", root, "zip", str(K_UPDATES), wait=False)
    w2 = _run_child("writer", root, "lab", str(K_UPDATES), wait=False)
    for w, col in ((w1, "zip"), (w2, "lab")):
        out, _ = w.communicate(timeout=600)
        assert w.returncode == 0, f"writer {col} failed: {out}"
    final = st.table("genomes")
    last = f"v{K_UPDATES - 1}-"
    n_zip = final.where(F.col("zip").startswith(f"zip-{last}")).count()
    n_lab = final.where(F.col("lab").startswith(f"lab-{last}")).count()
    assert n_zip == N_GENOMES, f"lost zip updates: {n_zip}/{N_GENOMES}"
    assert n_lab == N_GENOMES, f"lost lab updates: {n_lab}/{N_GENOMES}"
    vs = st._log.versions()
    assert vs == list(range(vs[0], vs[-1] + 1)), f"non-linear log: {vs}"
    assert st._log.latest()[0] == v_before + 2 * K_UPDATES, \
        "writer commits lost or duplicated"
    print(f"   both writers' final values present on all {N_GENOMES} rows; "
          f"linear log through v{vs[-1]}")

    print("== phase 3: kill -9 BEFORE the commit rename", flush=True)
    pre = {r["accession"]: r["technology"]
           for r in final.select("accession", "technology").collect()}
    v_pre_kill = st._log.latest()[0]
    marker = os.path.join(root, "PRECOMMIT_MARKER")
    killer = _run_child("killcommit", root, marker, "pre", wait=False)
    for _ in range(1800):
        if os.path.exists(marker):
            break
        time.sleep(0.1)
    else:
        killer.kill()
        raise AssertionError("killcommit child never reached the window")
    os.kill(killer.pid, signal.SIGKILL)
    killer.wait(timeout=60)
    assert st._log.latest()[0] == v_pre_kill, "phantom commit after kill"

    rc, res = _run_child("postcrash_read", root)
    assert rc == 0 and res["ok"] and res["n"] == N_GENOMES, res
    assert "doomed" not in res["zips"], \
        f"unpublished staged data visible: {res}"
    assert res["sample"] == pre[res["sample_acc"]], \
        f"post-kill read not the pre-crash snapshot: {res}"
    print("   nothing published; reader served the last commit")

    rc, res = _run_child("recover", root)
    assert rc == 0 and res["ok"], res
    assert res["vacuumed"] >= 1, f"staged garbage not reaped: {res}"
    print(f"   recovery: lease broken, {res['vacuumed']} staged dir(s) "
          f"vacuumed, store mutable again")

    print("== phase 4: kill -9 AFTER the commit rename", flush=True)
    v_now = st._log.latest()[0]
    marker2 = os.path.join(root, "POSTCOMMIT_MARKER")
    killer = _run_child("killcommit", root, marker2, "post", wait=False)
    for _ in range(1800):
        if os.path.exists(marker2):
            break
        time.sleep(0.1)
    else:
        killer.kill()
        raise AssertionError("killcommit(post) never reached the window")
    os.kill(killer.pid, signal.SIGKILL)
    killer.wait(timeout=60)
    assert st._log.latest()[0] == v_now + 1, "commit rename not durable"
    rc, res = _run_child("postcrash_read", root)
    assert rc == 0 and res["n"] == N_GENOMES and res["zips"] == ["landed"], \
        f"published mutation not visible: {res}"
    print("   commit durable the instant the rename landed")
    # free the dead writer's lease for cleanliness
    try:
        os.remove(os.path.join(root, "_log", "LOCK"))
    except OSError:
        pass

    print("== phase 5: two-process stale-break race", flush=True)
    from covsonar_spark.commitlog import CommitLog
    log = CommitLog(None, root)
    log.acquire_lease()
    lock = os.path.join(root, "_log", "LOCK")
    old_t = time.time() - 10_000
    os.utime(lock, (old_t, old_t))       # the holder is "dead"
    b1 = _run_child("breaker", root, wait=False)
    b2 = _run_child("breaker", root, wait=False)
    wins = []
    for b in (b1, b2):
        out, _ = b.communicate(timeout=120)
        wins.append(json.loads(out.strip().splitlines()[-1])["won"])
    assert sum(wins) == 1, f"stale-break race: {sum(wins)} acquirers won"
    print("   exactly one breaker acquired the stale lease")
    print("ALL PHASES PASS")


def main() -> None:
    if len(sys.argv) == 1:
        with tempfile.TemporaryDirectory(prefix="sonar-stress-") as td:
            orchestrate(os.path.join(td, "store"))
        return
    phase = sys.argv[1]
    if phase == "reader":
        child_reader(sys.argv[2], float(sys.argv[3]))
    elif phase == "writer":
        child_writer(sys.argv[2], sys.argv[3], int(sys.argv[4]))
    elif phase == "killcommit":
        child_killcommit(sys.argv[2], sys.argv[3], sys.argv[4])
    elif phase == "postcrash_read":
        child_postcrash_read(sys.argv[2])
    elif phase == "recover":
        child_recover(sys.argv[2])
    elif phase == "breaker":
        child_breaker(sys.argv[2])
    else:
        raise SystemExit(f"unknown phase {phase}")


if __name__ == "__main__":
    main()
