"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed, starts one fresh measured process (worker.py) on
local[nproc/2], samples the resident memory of its whole process tree
from /proc, waits until every process it started has ended, and prints
the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) as the last line of
standard output. Everything it writes stays under .perfbench_tmp/
(removed after the run) and .perfbench_out/ (traces).
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

from proctree import RssPeak, ppids, descendants  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEADLINE_S = 175.0
SAMPLE_EVERY_S = 0.1


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# -- process tree --------------------------------------------------------


def become_subreaper() -> None:
    """Orphans of the measured tree (the JVM, pyspark's daemon) are
    re-parented to this process, so it can wait for every one."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def kill_tree(proc: subprocess.Popen) -> None:
    for p in descendants(proc.pid):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def reap_all(grace_s: float = 20.0) -> int:
    """Wait until no child of this process is left; TERM then KILL
    stragglers. Returns how many had to be signalled."""
    me, t0, signalled = os.getpid(), time.monotonic(), set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return len(signalled)
        left = [p for p, pp in ppids().items() if pp == me]
        if not left:
            return len(signalled)
        waited = time.monotonic() - t0
        if waited > grace_s / 2:
            sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM
            for p in left:
                try:
                    os.kill(p, sig)
                    signalled.add(p)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


# -- environment ----------------------------------------------------------


def box() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gib": round(mem_kb / 2**20, 1)}


def spark_cpus(nproc: int) -> int:
    """Task slots for Spark: half the machine's cores. The JVM's GC and
    JIT threads, pyspark's Python workers and this sampler need cores
    too; with a task slot on every core, a core taken by any of them or
    by a neighbour on a shared host stalls a whole stage."""
    return max(1, nproc // 2)


def worker_env(run_dir: Path, nproc: int, ram_gib: float) -> dict[str, str]:
    """Fit the program to the machine: local[spark_cpus] with as many
    shuffle partitions, a driver heap well below physical RAM, and every
    scratch, spill and temp directory inside the run directory."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(spark_cpus(nproc)),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(ram_gib) // 4))}g",
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": str(run_dir / "warehouse"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
        # every JVM of the run, Spark's launcher included: temp files in
        # the run directory, and no hsperfdata file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
    })
    return env


def versions() -> dict:
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__}


# -- main -------------------------------------------------------------------


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "fsharp_mapreduce_spark" / "__init__.py").is_file():
        fail(f"program not found: {ROOT}/fsharp_mapreduce_spark is missing")
    sys.path[:0] = [str(HERE), str(ROOT)]
    import inputs
    import stats
    from workloads import SIZES

    if args.workload not in SIZES:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(SIZES)}")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    machine = box()
    run_dir = ROOT / ".perfbench_tmp" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    for sub in ("data", "tmp", "spark-local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    env = worker_env(run_dir, machine["nproc"], machine["ram_gib"])
    # a TERM unwinds through the cleanup below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        t0 = time.monotonic()
        inputs.prepare(args.workload, str(run_dir / "data"), args.seed,
                       SIZES[args.workload], machine["nproc"])
        prepare_s = time.monotonic() - t0

        become_subreaper()
        out_file = run_dir / "result.json"
        log_file = run_dir / "worker.log"
        peak = RssPeak()
        with open(log_file, "wb") as log:
            proc = subprocess.Popen(
                [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
                 "--data", str(run_dir / "data"), "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--out", str(out_file)],
                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            )
            while proc.poll() is None:
                peak.sample(proc.pid)
                if time.monotonic() - t_start > DEADLINE_S:
                    kill_tree(proc)
                    break
                time.sleep(SAMPLE_EVERY_S)
        signalled = reap_all()
        leftover = [p.name for p in (run_dir / "tmp").glob("fsmr_*")]
        if proc.returncode != 0 or not out_file.is_file():
            tail = log_file.read_text(errors="replace")[-4000:]
            fail(f"worker exited with {proc.returncode}; log tail:\n{tail}", 1)
        res = json.loads(out_file.read_text())
    finally:
        if proc is not None and proc.poll() is None:  # interrupted
            kill_tree(proc)
            reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)

    acct = stats.Accounting(**res["acct"])
    e2e = acct.end_to_end(res["setup_s"], peak.total)
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rounds": res["rounds"], "timed_s": round(res["timed_s"], 3),
        "per_op_p50_s": res["per_op_p50_s"],
        "error_rate": {"value": acct.error_rate, "unit": stats.ERROR_RATE_UNIT},
        "end_to_end": stats.as_metrics(e2e, stats.END_TO_END),
        "wall": stats.as_metrics(acct.wall_metrics(), stats.WALL),
        "op_tail": stats.tail(acct.latencies),
        "errors": res["errors"],
        "environment": {
            **machine, **versions(), "java": res["java_version"], "spark": res["spark_version"],
            **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")},
            "scratch": "run-local TMPDIR, SPARK_LOCAL_DIRS and warehouse, removed after the run",
            "scratch_leftover": leftover,
            "processes_signalled": signalled,
            "prepare_inputs_s": round(prepare_s, 3),
        },
    }
    if args.trace:
        layers = dict(res["per_layer"])
        layers["jvm.peak_rss_mb"], layers["python.peak_rss_mb"] = peak.jvm, peak.python
        metrics = stats.as_metrics(layers, stats.PER_LAYER)
        summary["self_times_s"] = {k: round(v, 4) for k, v in sorted(res["self_times"].items())}
        summary["tracing_overhead_s"] = layers["trace.overhead_s"]
        trace_dir = ROOT / ".perfbench_out"
        trace_dir.mkdir(exist_ok=True)
        trace_file = trace_dir / f"trace-{args.workload}-s{args.seed}.json"
        trace_file.write_text(json.dumps({
            "summary": summary, "per_layer": metrics, "ops": res["ops"],
            "spans": res["spans"]}, default=str))
        summary["trace_file"] = str(trace_file.relative_to(ROOT))
    else:
        metrics = stats.as_metrics(e2e, stats.END_TO_END)
    print(json.dumps({"perfbench": summary}))
    print(json.dumps({"correct": acct.failed == 0, "attempted": acct.attempted,
                      "failed": acct.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
