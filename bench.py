#!/usr/bin/env python3
"""Benchmark every registered query, in ``spark_queries()`` order, at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Prints ONE SHORT JSON line as the final stdout line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {<slowest few>}, "sf": <sf>, "n_queries": N,
   "detail": "BENCH_DETAIL.json", "regressions": [...]}

The full per-query timing map goes to BENCH_DETAIL.json next to this
file (a 113-query dict made the stdout line so long the driver's tail
window truncated its head and failed to parse it — round-1 lesson).
The summary also diffs per-query times against BASELINE.md's table and
lists any query slower than REGRESSION_RATIO x its baseline.  Every
query above _MEDIAN_THRESHOLD_SEC — and every flagged query — is rerun
twice more and reported at its MEDIAN (runs kept in BENCH_DETAIL.json
"reruns"), with regressions computed on the medians, so neither a
one-off GC/codegen spike nor ambient session drift (~8-15% measured,
VERDICT r6) can masquerade as a regression — round-4 methodology fix,
widened in round 7.  A query still flagged at its median then
SELF-ARBITRATES (round 12): up to ARBITRATION_RETRIES extra fresh runs,
judged at the MIN — the automated form of the standing fresh-session
A/B convention (one-sided stall noise cannot survive the min; a real
regression reproduces in every sample).

Each query is fully materialized via the noop sink (count() can skip
work; noop writes every row).  A warmup query amortizes JVM/codegen
startup so numbers reflect steady-state throughput.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

#: Flag a query when current_sec > REGRESSION_RATIO * baseline_sec
#: (and the delta is non-trivial in absolute terms).
REGRESSION_RATIO = 1.5
#: Ambient-session normalization (round 10): the ratio test runs
#: against ``baseline × ambient_drift``, where ambient_drift is the
#: MEDIAN of this session's per-query ratios vs baseline — a whole
#: session that runs uniformly ~1.2× slow (measured three times in
#: r10: medians 1.26/1.21/1.18 across ALL 262 queries including plans
#: untouched for rounds, with flags landing on DIFFERENT queries each
#: run) says the host is slow, not that the code regressed.  The
#: factor is floored at 1.0 (a fast session keeps the raw guard), and
#: published in the summary JSON so a normalized run is visible as
#: such.  The cap is an ARBITRATION TRIPWIRE, not a silent ceiling
#: (ADVICE r10 #1): normalizing at the cap would compound with
#: REGRESSION_RATIO into an effective ~2× threshold that a genuine
#: uniform regression (shared machinery: load_table, session conf, the
#: harness itself) could hide inside.  So when the session's UNCAPPED
#: median ratio exceeds the cap, the run stops normalizing entirely —
#: regressions are computed against RAW baselines (drift=1.0), the
#: summary carries ``requires_arbitration: true`` with the uncapped
#: factor, and a human (or the next fresh session) must decide
#: slow-host vs uniform-regression.  A merely-slow host trips it too;
#: that is the point — past the cap the two are indistinguishable from
#: inside one session.
_AMBIENT_DRIFT_CAP = 1.35
#: queries with baselines below this are too noisy to vote on drift
_AMBIENT_VOTER_MIN_BASELINE_SEC = 0.3
#: sub-half-second deltas on this host are scheduler/GC noise, not
#: regressions — single-run baselines vary ±20% at that scale
_MIN_REGRESSION_ABS_SEC = 0.5
#: Sub-SECOND queries need a LARGER absolute delta to flag (VERDICT r8
#: #2): their session-to-session band is ±40-50% of wall (codegen
#: compile order, GC timing), so a 0.6 s delta on a 0.8 s baseline is
#: indistinguishable from ambient drift.  Originally this 1 s gate
#: covered all baselines under 2 s, but that let a genuine 1.58×
#: median (embedding_split_contamination, 2.70 vs 1.706 — delta
#: 0.994 s) slip the gate by 6 ms and never reach arbitration
#: (VERDICT r12 #1).  Since round 12 the min-of-retries arbitration
#: absorbs one-sided stall noise IN-RUN, so the wide gate is no longer
#: the only defence: baselines in [1, 2) s now use the standard 0.5 s
#: gate and rely on arbitration to clear ambient flags; only sub-1 s
#: baselines (which also get steady-state warm runs) keep the 1 s gate.
_MIN_REGRESSION_ABS_SEC_SUB1 = 1.0
_SUB1_BASELINE_SEC = 1.0

#: Steady-state mode for the noise floor (VERDICT r10 #7): rows with a
#: sub-second baseline measure codegen/janino/GC fixed costs as much as
#: their plan — 3 of the 4 nominal r10 2×-line hits were sub-1.3 s rows
#: with <1 s absolute delta.  Each such row gets ONE untimed warm run
#: (compile + worker-pool costs land outside the timed window) and is
#: reported as the median of 3 timed runs (the instability escalation
#: below still widens to 5), so the 2× line on these rows measures the
#: PLAN, not JIT state.  Extra wall is bounded: the affected rows sum
#: to ~60 s of sub-second runs at sf0.1.
_STEADY_STATE_BASELINE_SEC = 1.0

#: Queries whose first-pass wall exceeds this get re-run twice and
#: reported as the median of 3 (noise control, VERDICT r6 #6);
#: override via SPARK_GRAFT_BENCH_MEDIAN_SEC (set huge to disable).
_MEDIAN_THRESHOLD_SEC = float(
    os.environ.get("SPARK_GRAFT_BENCH_MEDIAN_SEC", "1.0")
)

#: In-run flag self-arbitration (VERDICT r11 #2, ported from the sf1
#: guard's DRIFT_RETRIES): a query still flagged at its MEDIAN gets up
#: to this many extra fresh measurements and is judged at the MIN of
#: all its samples.  Host-stall noise on this machine is strictly
#: one-sided (freezes only lengthen a run) and rotates across queries
#: round to round — r11's two closing benches flagged DISJOINT sets on
#: untouched plans, and every manual fresh-session A/B arbitrated
#: ambient.  A stall cluster cannot survive the min of five tries; a
#: genuine plan regression reproduces in all of them.  This automates
#: the standing "fresh-session A/B before believing a flag" convention
#: inside the run, paid only by rows that flagged at their median.
ARBITRATION_RETRIES = 2


def is_flagged(
    name: str, t: float, baseline: "dict[str, float]", drift: float = 1.0
) -> bool:
    """True when *t* regresses vs its baseline at ambient *drift*:
    ratio over REGRESSION_RATIO AND a non-trivial absolute delta
    (sub-1 s baselines need a 1 s delta — their session band is
    ±40-50%; [1, 2) s baselines use the standard 0.5 s gate since
    round 13, with in-run arbitration absorbing stall noise).
    Module-level (not a main() closure) so the retry policy is
    unit-testable without Spark (tests/test_tools_bench.py)."""
    if name not in baseline or baseline[name] <= 0:
        return False
    eff = baseline[name] * drift
    min_abs = (
        _MIN_REGRESSION_ABS_SEC_SUB1
        if baseline[name] < _SUB1_BASELINE_SEC
        else _MIN_REGRESSION_ABS_SEC
    )
    return t > REGRESSION_RATIO * eff and t - eff > min_abs


def arbitrate_flags(
    flagged: "list[str]",
    samples: "dict[str, list[float]]",
    baseline: "dict[str, float]",
    drift: float,
    run_once,
) -> "dict[str, dict]":
    """Self-arbitrate each flagged query: while the MIN of its samples
    still flags and retries remain, measure again.  Returns per-query
    ``{"samples": [...], "judged_sec": min, "still_flagged": bool}`` —
    the caller lists only still-flagged rows as regressions, so a
    transient stall self-clears in-run while a reproducible regression
    carries its full sample record for post-hoc audit (ADVICE r11 #5's
    discarded-measurement concern, applied here from the start)."""
    out: dict[str, dict] = {}
    for name in flagged:
        runs = list(samples.get(name, []))
        tries = 0
        while tries < ARBITRATION_RETRIES and is_flagged(
            name, min(runs), baseline, drift
        ):
            runs.append(run_once(name))
            tries += 1
        out[name] = {
            "samples": runs,
            "judged_sec": min(runs),
            "retries": tries,
            "still_flagged": is_flagged(name, min(runs), baseline, drift),
        }
    return out

#: Queries whose sf0.1 wall time is dominated by whole-stage-codegen
#: COMPILATION, not execution, making their single-run numbers hostage
#: to janino cache state / compile order (measured across rounds 1-2;
#: annotated in BASELINE.md).  Each gets ONE untimed throwaway run so
#: the timed number is steady-state throughput — the quantity the
#: baseline table actually tracks.
WARM_FIRST = {
    "ansi_safe_arithmetic_suite",
    "bigram_lm_score",
    "char_entropy_documents",
    # same interpreted-lambda bigram-explode family as bigram_lm_score:
    # timed runs span 1.4-6.8 s depending on janino/GC state (round 5)
    "pmi_bigrams_tokens",
    # materializes fragments + compiles three member plans against the
    # parquet overrides on first run (7.8 s first, 2.5-3.2 steady)
    "run_batch_fragments_verified",
    # same shape: six stats members compile against the two shared
    # frames on first run (5.4 s first, 2.7-2.8 steady, round 9)
    "run_batch_stats_verified",
}


def load_baseline(path: str, sf: str) -> dict[str, float]:
    """Per-query baseline seconds from BASELINE.md's
    ``| query | sf | sec | config |`` table (empty dict if absent).
    Only rows whose sf column matches the CURRENT run's sf are loaded —
    comparing an sf0.01 run against sf0.1 baselines flags nonsense
    regressions (overhead-dominated queries don't scale linearly)."""
    out: dict[str, float] = {}
    try:
        with open(path) as f:
            for line in f:
                m = re.match(
                    r"\|\s*([a-z0-9_]+)\s*\|\s*([\d.]+)\s*\|\s*([\d.]+)\s*\|", line
                )
                if m and m.group(2) == sf:
                    out[m.group(1)] = float(m.group(3))
    except OSError:
        pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from cid_etl_spark.queries import spark_queries
    from cid_etl_spark.session import get_spark

    spark = get_spark("cid-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = spark_queries()

    # warmup: touch the big table once (JVM + codegen + FS cache)
    queries["pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # ... and spin up the reusable Python/Arrow worker pool so the first
    # pandas-UDF query is charged for its work, not for forking 32
    # workers and importing numpy/pandas in each
    def _warm(batches):
        # preload the heavy imports into the reused worker pool
        import numpy  # noqa: F401
        import pandas as _pd

        _pd.util.hash_array(__import__("numpy").array(["warm"], dtype=object))
        yield from batches

    spark.range(256, numPartitions=2 * spark.sparkContext.defaultParallelism).mapInPandas(
        _warm, "id long"
    ).write.format("noop").mode("overwrite").save()

    def run_once(name: str) -> float:
        # steady-state hygiene: drop any DataFrames the previous query
        # persisted (pair-dedup pipelines cache their signature/index
        # tables) and let the JVM collect its shuffle/broadcast garbage
        # OUTSIDE the timed window, so each number reflects the query,
        # not its predecessor's cache pressure or GC debt
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    baseline = load_baseline(os.path.join(repo_dir, "BASELINE.md"), sf)

    def ambient_drift_raw(ts: "dict[str, float]") -> float:
        """UNCAPPED median of this session's per-query ratios vs
        baseline over the stable voters, floored at 1.0.  True median
        (ADVICE r10 #4): the old upper-middle pick biased even-length
        voter lists upward, weakening the guard."""
        ratios = [
            t / baseline[n]
            for n, t in ts.items()
            if baseline.get(n, 0) >= _AMBIENT_VOTER_MIN_BASELINE_SEC
        ]
        if not ratios:
            return 1.0
        return max(statistics.median(ratios), 1.0)

    def effective_drift(raw: float) -> float:
        """The normalization factor the ratio guard actually uses: the
        raw session median up to the cap; PAST the cap, 1.0 — the run
        flips to arbitration mode and compares raw baselines (see
        :data:`_AMBIENT_DRIFT_CAP`)."""
        return raw if raw <= _AMBIENT_DRIFT_CAP else 1.0

    timings: dict[str, float] = {}
    for name in queries:
        if (
            name in WARM_FIRST
            or baseline.get(name, _STEADY_STATE_BASELINE_SEC)
            < _STEADY_STATE_BASELINE_SEC
        ):
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = run_once(name)

    # A single-run number can be a one-off GC/codegen spike (the
    # round-3 persist-churn debate started from exactly one snapshot,
    # and VERDICT r6 measured ~8% same-commit driver-vs-builder drift
    # with ~15% session drift — enough to swamp real per-query changes
    # under ~1.5×): report the MEDIAN of 3 for every query above
    # _MEDIAN_THRESHOLD_SEC and for every flagged query, and compute
    # regressions on those medians, so both a listed regression and a
    # round-over-round comparison are reproducible by construction.
    # Sub-threshold queries stay single-run — their absolute error is
    # bounded by the threshold and the extra wall isn't worth it.
    # An UNSTABLE 3-sample set (max/min > 2×) gets two more samples
    # and reports the median of 5 (VERDICT r8 #3): the r8 driver sweep
    # measured rfm at [2.44, 5.47, 9.19] — a transient the builder
    # could not reproduce in fresh OR 120-query-aged sessions (flat
    # 2.5-3.5 s both ways), i.e. concurrent host load during two
    # consecutive reruns.  A 3-sample median is corrupted when 2 of 3
    # samples hit the transient; a 5-sample median needs 3 — and the
    # extra runs are only paid by queries that actually wobbled.
    drift = effective_drift(ambient_drift_raw(timings))
    reruns: dict[str, list[float]] = {}
    for name in [
        n
        for n, t in timings.items()
        if t > _MEDIAN_THRESHOLD_SEC
        or baseline.get(n, _STEADY_STATE_BASELINE_SEC) < _STEADY_STATE_BASELINE_SEC
        or is_flagged(n, t, baseline, drift)
    ]:
        samples = [timings[name], run_once(name), run_once(name)]
        if max(samples) > 2 * min(samples):
            samples += [run_once(name), run_once(name)]
        reruns[name] = samples
        timings[name] = sorted(samples)[len(samples) // 2]

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    raw_drift = ambient_drift_raw(timings)
    drift = effective_drift(raw_drift)
    requires_arbitration = raw_drift > _AMBIENT_DRIFT_CAP
    # Median-flagged rows self-arbitrate at the MIN of up to
    # ARBITRATION_RETRIES extra fresh runs (VERDICT r11 #2); only rows
    # whose min STILL flags are listed as regressions.  Totals keep the
    # median values — arbitration changes the verdict, not the clock.
    median_flagged = [
        n for n, t in timings.items() if is_flagged(n, t, baseline, drift)
    ]
    arbitration = arbitrate_flags(
        median_flagged,
        {n: reruns.get(n, [timings[n]]) for n in median_flagged},
        baseline,
        drift,
        run_once,
    )
    regressions = sorted(
        (
            {"query": n, "sec": a["judged_sec"],
             "median_sec": timings[n], "baseline_sec": baseline[n],
             "ratio": round(a["judged_sec"] / baseline[n], 2),
             "ambient_adjusted_baseline": round(baseline[n] * drift, 3),
             "runs": a["samples"]}
            for n, a in arbitration.items()
            if a["still_flagged"]
        ),
        key=lambda r: -r["ratio"],
    )
    # Rows that flagged at their MEDIAN but were cleared by the
    # min-of-retries arbitration (ADVICE r12 #1): surfaced in the short
    # stdout line — not only in the sidecar — so a recurring near-miss
    # stays visible across rounds instead of silently self-clearing.
    arbitrated_clear = sorted(
        n for n, a in arbitration.items() if not a["still_flagged"]
    )

    detail = {
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "ambient_drift": drift,
        "ambient_drift_raw": round(raw_drift, 3),
        "requires_arbitration": requires_arbitration,
        "regressions": regressions,
        "flag_arbitration": arbitration,
        "arbitrated_clear": arbitrated_clear,
        "reruns": reruns,
    }
    detail_path = os.path.join(repo_dir, "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # Final stdout line stays SHORT so the driver's tail window can
    # parse it: totals + the slowest handful, full map in the sidecar.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:6])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf_val,
                "n_queries": len(timings),
                "detail": "BENCH_DETAIL.json",
                "ambient_drift": drift,
                "requires_arbitration": requires_arbitration,
                "regressions": [r["query"] for r in regressions[:8]],
                "arbitrated_clear": arbitrated_clear[:8],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
