"""Self-test of the synthetic inputs against the engine.

    python3 perfbench/selftest.py

Run from the repository root; exits 0 when every check holds.  Ingests
one 64-genome batch into a fresh store and checks that:

- the GFF3 parses into six CDS whose translations end in their only stop;
- the add passes the paranoid round-trip with no aligner errors;
- every stored profile has DNA and protein tokens;
- a marker token is in a profile exactly when the generator planted it;
- ``fs_profile`` is non-empty exactly for the frameshift sequences.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


def main() -> int:
    from run import settings, stop_spark

    work = os.path.join(os.getcwd(), ".perfbench", f"selftest-{os.getpid()}")
    settings(work)
    from covsonar_spark.functions.genetics import seguid
    from covsonar_spark.session import get_spark
    from workloads import Workload

    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    problems = []
    try:
        w = Workload(spark, work, seed=1)
        w.fresh_store()
        cds = w.store.cds_list
        if len(cds) != 6 or any(c.aa.find("*") != len(c.aa) - 1 for c in cds):
            problems.append("CDS translations carry internal stops")
        w.run_op(w.add_and_update, *w.write_batch(64, 0.25))
        problems += w.failures
        c = w.corpus
        want = {seguid(c.sequences[g.seqid].seq): c.sequences[g.seqid]
                for g in w.stored}
        rows = w.store.table("profiles").collect()
        if len(rows) != len(want):
            problems.append(f"{len(rows)} profiles for {len(want)} sequences")
        for r in rows:
            s = want[r["seqhash"]]
            if not r["dna_profile"] or not r["aa_profile"]:
                problems.append(f"empty profile {r['seqhash']}")
            for m in range(len(c.markers)):
                if (c.marker_token(m) in r["dna_profile"]) != (m in s.markers):
                    problems.append(f"marker {m} wrong in {r['seqhash']}")
            if bool(r["fs_profile"]) != s.frameshift:
                problems.append(f"frameshift flag wrong in {r['seqhash']}: "
                                f"{r['fs_profile']}")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "ok" if not problems else f"{len(problems)} failure(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
