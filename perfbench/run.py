"""Layered benchmark of the mimic2ts CLI and of IVF artifact churn.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (workloads.py):

- cli_many_stays: `EventsAggregator(...).do_agg()` over many short,
  sparse stays, so the per-stay CSV sink does most of the work;
- ivf_churn: `maintain ivf`, then `ivf-append` deltas each followed by a
  panel `serve_ivf_artifact`, then `ivf-compact`;
- cli_long_stays (not in BENCHMARK.json): `do_agg` with `ffill=True` over
  a few long, dense stays, so scan, aggregate and dense fill do most of it.

Each run is one process on local[nproc]. Inputs come from the seed and
are cached under `.perfbench/cache`, outside the timed region; every run
writes to a fresh directory under `.perfbench/work` and removes it.
Outputs are checked: the CLI matrices against a DuckDB oracle, the IVF
artifact by its postings, planted near-duplicates and a compaction that
must not change served results. A failed check makes `correct` false.

The last stdout line is the result JSON. With --trace 0 it holds the
end-to-end metrics; with --trace 1 the per-layer metrics, from spans
around each layer call and Spark's status store. The line before it
holds the same run's details under the workload's own metric names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
N_SETUP = 3  # cold starts per run: this process and two probes beside it
STATE = os.path.join(ROOT, ".perfbench")  # inputs, bytecode, per-run dirs
PYCACHE = os.path.join(STATE, "pycache")


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def cpu_probe() -> float:
    """bench.py's fixed single-thread md5 loop, best of 3 (host drift
    indicator; recorded, never used to rescale a metric)."""
    import hashlib

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"probe"
        for _ in range(200_000):
            h = hashlib.md5(h).digest()
        best = min(best, time.perf_counter() - t0)
    return best


def configure_env(work: str) -> None:
    """Run hygiene: cores, a heap that fits the host, scratch dirs inside
    the work dir, bytecode caches outside the source tree, and the
    package on the Python workers' path."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "PYTHONPYCACHEPREFIX": PYCACHE,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    from mimic2ts_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    spark.range(1).count()
    return spark


def _descendants(pid: int) -> list[int]:
    """Every process below `pid` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except FileNotFoundError:  # exited since the listing
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, then wait for its JVM and the JVM's workers to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in workers:
        while _running(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _running(pid):
            os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def setup_probe() -> None:
    """Child mode: cold-start a session, run one job, report the age."""
    work = os.environ["PERFBENCH_PROBE_WORK"]
    configure_env(work)
    spark = start_session(work)
    print(json.dumps({"setup_s": process_age()}), flush=True)
    stop_session(spark)


def rss_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so the input
    generator's memory is not counted."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def main() -> int:
    sys.pycache_prefix = PYCACHE  # the rest of this process's imports
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()
    if args.setup_probe:
        setup_probe()
        return 0
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "mimic2ts_spark")):
        print("run from the repository root: mimic2ts_spark/ not found", file=sys.stderr)
        return 2
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        return run(args, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, workloads) -> int:
    wl = workloads.WORKLOADS[args.workload]
    # set-up first, so that this process's own cold start is a sample
    # like the probes': N_SETUP processes start side by side
    probes = []
    for i in range(N_SETUP - 1):
        env = dict(os.environ, PERFBENCH_PROBE_WORK=os.path.join(work, f"probe{i}"))
        probes.append(subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True,
        ))
    t0 = time.perf_counter()
    import mimic2ts_spark  # noqa: F401  (timed: package import)

    import_s = time.perf_counter() - t0
    spark = start_session(work)
    setups = [process_age()]
    start_s = time.perf_counter() - t0 - import_s
    try:
        for proc in probes:
            out, _ = proc.communicate(timeout=170)
            if proc.returncode != 0:
                raise RuntimeError("set-up probe failed")
            setups.append(json.loads(out.strip().splitlines()[-1])["setup_s"])
        probe_before = cpu_probe()
        inp = wl.prepare(args.seed, os.path.join(STATE, "cache"))
        from spans import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        reset_peak_rss()
        res = wl.run(spark, tracer, inp, work, args.seconds,
                     lambda: {"driver": rss_mb("self"), "jvm": rss_mb(jvm_pid)})
    finally:
        for proc in probes:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        stop_session(spark)
    probe_after = cpu_probe()

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": statistics.median(setups), "setup_samples": setups,
        "peak_rss_mb": sum(res.rss_mb.values()), "rss_mb": res.rss_mb,
        "error_rate": res.failed / res.attempted,
        "errors": res.errors[:10],
        "cpu_probe_s": {"before": probe_before, "after": probe_after},
        **res.detail,
    }
    print(json.dumps(detail))
    if args.trace:
        layers = {"memory.peak_rss_mb": detail["peak_rss_mb"],
                  "session.import_s": import_s, "session.start_s": start_s,
                  "host.cpu_probe_s": min(probe_before, probe_after)}
        layers.update(res.layers)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in workloads.PER_LAYER.items()}
    else:
        e2e = {"setup_s": detail["setup_s"], **res.e2e}
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in workloads.END_TO_END.items()}
    print(json.dumps({
        "correct": res.failed == 0, "attempted": res.attempted,
        "failed": res.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
