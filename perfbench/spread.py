#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage, from the repository root::

    python3 perfbench/spread.py --workload etl_core --seeds 1-10

Runs ``perfbench/run.py`` once per seed with ``run_seconds`` from
``BENCHMARK.json`` and prints, for each end-to-end metric, the median of
the runs and the distance between their first and third quartile as a
share of that median, next to the metric's bound.  A benchmark is
steady when every spread stays well under its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import stats  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        manifest = json.load(f)

    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        began = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(manifest["run_seconds"]),
             "--trace", "0"],
            cwd=REPO, capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {time.monotonic() - began:.0f} s, " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)

    if len(next(iter(values.values()))) < 2:
        return 0
    for metric in manifest["end_to_end"]:
        v = values[metric["name"]]
        print(f"{metric['name']:14s} median={stats.median(v):.4g} "
              f"spread={stats.quartile_spread(v):.4f} bound={metric['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
