"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {ingest,screen} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The run sets up once (a fresh store in a
fresh session, so set-up includes the cold JVM and Python-worker
start), runs the workload's untimed warm-up, then measures a closed
single-client loop for ``--seconds``.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(every other op of the loop is traced, see spans.py).  The line before
it is a JSON detail record: settings, sample counts and failures.
Everything the run writes goes under ``.perfbench/`` in the current
directory; the run's scratch directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def settings(work: str) -> dict:
    """Environment for a steady run, set before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),          # local[nproc], shuffle partitions = nproc
        "SPARKSONAR_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        "PYSPARK_SUBMIT_ARGS": (
            # no hsperfdata file: the JVM would write it under /tmp
            f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(env)
    return env


def descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class PeakRss(threading.Thread):
    """Samples the summed peak resident size (VmHWM) of this process and
    its descendants (the driver JVM and its Python workers)."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.peak_by_process: dict[str, int] = {}   # MB at the peak
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        stats = {}
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    status = dict(ln.split(":", 1) for ln in fh if ":" in ln)
            except OSError:
                continue
            if "VmHWM" in status:
                stats[pid] = (status["Name"].strip(), int(status["PPid"]),
                              int(status["VmSize"].split()[0]),
                              int(status["VmHWM"].split()[0]))
        by_process = {}
        for pid, (name, ppid, size, hwm) in stats.items():
            # a child the JVM has spawned but not yet exec'd shares the
            # JVM's memory and shows its size and high-water mark: count
            # those pages once
            if ppid in stats and stats[ppid][2:] == (size, hwm):
                continue
            by_process[f"{name}-{pid}"] = hwm
        total = sum(by_process.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_by_process = {k: v // 1024 for k, v in by_process.items()}

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    for every one of them to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    pids = descendants()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()        # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired: kill below
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in pids:                # reap zombies of our direct children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def end_to_end(w, setup_s: float, rss_mb: float) -> dict:
    vals = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(w.latencies_ms),
        "items_per_s": statistics.median(w.rates),
        "bytes_per_genome": w.space,
        "peak_rss_mb": rss_mb,
    }
    return {name: (vals[name], unit) for name, unit in declared("end_to_end").items()}


def per_layer(w, host: list[float]) -> dict:
    from workloads import median

    vals = {k: median(v) for k, v in w.layer.items()}
    vals["host.hostmark_s"], vals["host.hostmark_mt_s"] = host
    if w.latencies_ms and w.traced_ms:
        vals["trace.overhead_ms"] = median(w.traced_ms) - median(w.latencies_ms)
    return {name: (vals.get(name, 0.0), unit)
            for name, unit in declared("per_layer").items()}


def layer_table(tracer) -> dict:
    """store.add self time, jobs and tasks come from the spans."""
    rows = tracer.table()
    add = rows.get("store.add")
    upd = rows.get("store.update")
    out = {}
    if add:
        out["store.add_self_ms"] = add["self_ms"] / add["calls"]
        out["store.add_jobs"] = add["jobs"] / add["calls"]
        out["store.add_tasks"] = add["tasks"] / add["calls"]
    if upd:
        out["store.update_ms"] = upd["total_ms"] / upd["calls"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if os.environ.get("PYTHONHASHSEED") != "0":
        # a fixed hash seed only takes effect at interpreter start
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    # the package under test must be importable from the checkout
    # before anything starts
    sys.path[:0] = [ROOT, HERE]
    import covsonar_spark  # noqa: F401
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(work)
    env = settings(work)

    # a terminated run still stops its JVM and workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    rss = PeakRss()
    rss.start()
    from covsonar_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - t0
    try:
        from covsonar_spark.metrics import hostmark, hostmark_mt

        tracer = None
        host = [hostmark(), 0.0]
        if args.trace:
            from spans import Tracer

            host[1] = hostmark_mt(int(env["SPARK_GRAFT_CPUS"]))
            tracer = Tracer(spark.sparkContext)
        w = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t = time.perf_counter()
        w.setup()
        setup_s = time.perf_counter() - t
        w.warm_up()
        w.loop(args.seconds)
        host_after = hostmark()
        w.verify()
    finally:
        stop_spark(spark)
        rss_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        w.layer.update({k: [v] for k, v in layer_table(tracer).items()})
        metrics = per_layer(w, host)
        os.makedirs(f"{out_dir}/traces", exist_ok=True)
        tracer.write(f"{out_dir}/traces/{args.workload}-seed{args.seed}.json",
                     {"metrics": {k: v for k, (v, _u) in metrics.items()}})
        print(f"{'span':<20}{'calls':>6}{'self_ms':>11}{'total_ms':>11}"
              f"{'jobs':>6}{'tasks':>7}", file=sys.stderr)
        for name, r in tracer.table().items():
            print(f"{name:<20}{r['calls']:>6}{r['self_ms']:>11.1f}"
                  f"{r['total_ms']:>11.1f}{r['jobs']:>6}{r['tasks']:>7}",
                  file=sys.stderr)
    else:
        metrics = end_to_end(w, setup_s, rss_mb)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": {**env, "PYTHONHASHSEED": "0"},
        "spark_start_s": spark_start_s, "hostmark_s": [host[0], host_after],
        "op_samples": len(w.latencies_ms), "traced_samples": len(w.traced_ms),
        "loop_s": w.loop_s, "shape_ms": getattr(w, "shape_ms", None),
        "rss_peak_by_process_mb": rss.peak_by_process,
        "failures": w.failures[:10],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": w.failed == 0, "attempted": w.attempted, "failed": w.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
