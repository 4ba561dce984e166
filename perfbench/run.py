#!/usr/bin/env python3
"""Benchmark launcher: pins the run environment and runs one measurement
in a fresh child process.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 8 --trace 0

Run from the repository root. The launcher

- sets ``SPARK_GRAFT_CPUS`` to half the CPUs this process may use, an explicit
  ``SPARK_DRIVER_MEMORY`` (a quarter of RAM, at most 4 GB),
  ``PYTHONHASHSEED=0``, turns off the JVM's ``/tmp`` perf-data files, and
  points ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` at a scratch directory under
  ``perfbench/.work`` that it deletes afterwards;
- starts ``harness.py`` as a new process (one JVM per run), whose last
  stdout line is the result;
- kills the run if it overstays, then waits for every process the run
  started — the JVM and Spark's Python workers included — to end.

It exits non-zero without a result when the package is missing from the
working directory or the run fails.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 160
REAP_GRACE_S = 10
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    pids: list[int] = []
    for tid in os.listdir("/proc/self/task"):
        with open(f"/proc/self/task/{tid}/children") as f:
            pids += [int(p) for p in f.read().split()]
    return pids


def _reap_all(grace_s: float) -> None:
    """Wait for every descendant (orphans are re-parented here because
    this process is a child subreaper); TERM then KILL stragglers."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def spark_cpus() -> int:
    """Half the CPUs this process may use, at least one: the rest are left
    to the Python process, the HTTP client and server, Spark's Python
    workers and the JVM's GC and JIT threads, so that a run does not ask
    for more CPUs than it has and measure the scheduler instead."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _spark_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 4))


def main() -> int:
    ap = argparse.ArgumentParser(description="degdb node benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "degdb_spark", "__init__.py")):
        print("perfbench: run from the repository root (degdb_spark/ not found)", file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(HERE, ".results")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_DRIVER_MEMORY": f"{_spark_memory_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        # no hsperfdata files under /tmp: the run writes only inside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--workdir", work,
    ]
    if args.trace:
        cmd += ["--spans-out", os.path.join(results, f"spans-{args.workload}-{args.seed}.jsonl")]
    rc = 1
    try:
        child = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True)
        try:
            rc = child.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s, killed", file=sys.stderr)
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            rc = 1
    finally:
        _reap_all(REAP_GRACE_S)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
