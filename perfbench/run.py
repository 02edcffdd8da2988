#!/usr/bin/env python3
"""Benchmark launcher for the cid_etl_spark query registry.

Usage, from the repository root::

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

The launcher pins the environment of the run, starts the measuring
process (``perfbench/bench.py``) in a scratch directory under
``perfbench/``, waits for it and every process below it to end, removes
the scratch directory, and relays the run's output.  Its last line of
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--workload all`` runs every workload in turn and reports
their metrics as ``<workload>.<metric>``.

Environment of the run (recorded in its output):

- ``PYTHONPATH`` = the repository root, so Spark's Python workers import
  the package from any working directory;
- ``SPARK_GRAFT_CPUS`` = the CPUs this process may use;
- ``SPARK_GRAFT_DRIVER_MEM`` = a driver heap well below host memory;
- ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` = the scratch directory, with every
  JVM's ``java.io.tmpdir`` pointing there too and its perf-data file off.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import procfs  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: A run that has not finished by then is stopped and counts as failed.
RUN_TIMEOUT_S = 170.0
DRIVER_MEM = "2g"
_PR_SET_CHILD_SUBREAPER = 36


def _reap(timeout: float = 20.0) -> None:
    """Stop and wait for every process left below this one.

    This process is a child subreaper, so the JVM and the Python workers
    re-parent to it when the measuring process exits."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        alive = procfs.descendants(os.getpid())[1:]
        if not alive:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _environment(scratch: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update({
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": scratch,
        # every JVM (spark-submit's launcher too) keeps its temp files and
        # its perf-data file out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "PYTHONUNBUFFERED": "1",
    })
    return env


def run_one(workload: str, seed: int, seconds: float, trace: int) -> tuple[int, dict | None]:
    """One measuring process; returns its exit code and JSON result."""
    scratch = tempfile.mkdtemp(prefix=".scratch-", dir=HERE)
    os.makedirs(os.path.join(scratch, "spark-local"))
    cmd = [
        sys.executable, "-m", "perfbench.bench", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--cache", os.path.join(HERE, ".cache"),
        "--results", os.path.join(HERE, "results"),
    ]
    result = None
    timed_out = threading.Event()

    def _stop_all():
        timed_out.set()
        _reap(timeout=0.0)

    try:
        proc = subprocess.Popen(cmd, cwd=scratch, env=_environment(scratch),
                                stdout=subprocess.PIPE, text=True)
        watchdog = threading.Timer(RUN_TIMEOUT_S, _stop_all)
        watchdog.start()
        last = ""
        try:
            for line in proc.stdout:
                if line.startswith("{"):
                    last = line
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            code = proc.wait()
        finally:
            watchdog.cancel()
        if timed_out.is_set():
            print(f"# {workload}: stopped after {RUN_TIMEOUT_S:.0f} s", file=sys.stderr)
            code, last = 124, ""
        if last:
            result = json.loads(last)
    finally:
        _reap()
        shutil.rmtree(scratch, ignore_errors=True)
    return code, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="cid_etl_spark closed-loop benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(REPO, "cid_etl_spark", "session.py")):
        print("perfbench: the cid_etl_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # a terminated launcher still stops its processes and removes scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    codes, results = [], {}
    for name in names:
        code, result = run_one(name, args.seed, args.seconds, args.trace)
        codes.append(code)
        if result is not None:
            results[name] = result
    if len(results) != len(names):
        print("perfbench: a run ended without a result", file=sys.stderr)
        return max(codes) or 1
    if args.workload == "all":
        merged = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    else:
        merged = results[names[0]]
    print(json.dumps(merged))
    return max(codes)


if __name__ == "__main__":
    sys.exit(main())
