"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workloads ingest screen \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--out FILE]
    python3 perfbench/steadiness.py --compare SET1.json SET2.json

Run from the repository root.  Each run is ``perfbench/run.py`` with
the run length from BENCHMARK.json.  For every workload and metric it
prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``), the spread ``(q3 - q1) /
median`` and, for end-to-end metrics, whether that spread is below a
third of the metric's bound.  ``--out`` writes the values and summary
as JSON.  ``--compare`` prints a markdown table of two such files: each
set's median, quartiles and spread, and the second median's change.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, f"{HERE}/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}:\n"
                         f"{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return {"seed": seed, "wall_s": wall, "detail": json.loads(lines[-2]),
            **json.loads(lines[-1])}


def summarize(runs: list[dict], bounds: dict) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        row = {"median": med, "q1": q1, "q3": q3, "spread": spread}
        if name in bounds:
            row["bound"] = bounds[name]
            row["steady"] = spread < bounds[name] / 3
        out[name] = row
    return out


def compare(paths: list[str]) -> str:
    sets = []
    for p in paths:
        with open(p) as fh:
            sets.append(json.load(fh))
    out = ["| workload | metric | bound | set | median | q1 | q3 | spread | "
           "steady | median change |", "|---" * 10 + "|"]
    for w, first in sets[0].items():
        for name, row in first["summary"].items():
            for k, rep in enumerate(sets):
                r = rep[w]["summary"][name]
                change = (r["median"] / row["median"] - 1) if row["median"] else 0.0
                out.append(
                    f"| {w} | {name} | {r.get('bound', '')} | {k + 1} | "
                    f"{r['median']:.5g} | {r['q1']:.5g} | {r['q3']:.5g} | "
                    f"{r['spread']:.3f} | {r.get('steady', '')} | "
                    f"{'' if k == 0 else f'{change:+.3f}'} |")
    return "\n".join(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", nargs="+", type=int)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        print(compare(args.compare))
        return
    if not args.workloads or not args.seeds:
        ap.error("--workloads and --seeds are required")
    with open(f"{ROOT}/BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workloads:
        runs = []
        for s in args.seeds:
            r = run_once(w, s, bench["run_seconds"])
            runs.append(r)
            print(f"{w} seed {s}: wall {r['wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        summary = summarize(runs, bounds)
        report[w] = {"runs": runs, "summary": summary}
        for name, row in summary.items():
            flag = "" if "steady" not in row else ("  ok" if row["steady"] else "  UNSTEADY")
            print(f"  {w} {name}: median {row['median']:.4g} q1 {row['q1']:.4g} "
                  f"q3 {row['q3']:.4g} spread {row['spread']:.3f}{flag}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
