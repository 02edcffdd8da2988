"""One benchmark run: the process ``perfbench/run.py`` starts.

A single closed-loop client drives one workload.  It sets up a fresh
session once (``get_spark`` plus one warm pass), then settles for
``SETTLE_S`` seconds, untimed: a check pass that collects every query's
output and compares it with the query's DuckDB twin, then noop passes
while the JIT compiles the hot paths.  Last it runs timed passes until
``--seconds`` of passes have run.  Each query is built with
``spark_queries()[name](spark, data_dir)`` and executed with
``.write.format("noop").save()``; between queries the SQL cache is
cleared and a JVM GC requested, outside every timed window.  The input is the driver's fixed 0.01-scale tables under
``perfbench/data/sf0.01``.

With ``--trace 1`` every other timed pass is traced: job groups
``<workload>:<pass>:<query>:{build,action}``, stage metrics from the
status tracker and REST API, Python worker CPU from ``/proc`` and
micro-batch progress from a ``StreamingQueryListener``.  The untraced
passes in between give the tracing overhead.

The last line of standard output is the run's JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import threading
import time
import traceback
import uuid
from datetime import datetime

from perfbench import check, procfs, stages, stats
from perfbench.spans import Recorder, self_time
from perfbench.workloads import DROPPED, EXCLUDED, WORKLOADS

#: The driver's seed-42 tables at the 0.01 scale.  They are the same for
#: every run; the seed only orders the queries of each pass.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
MB = 1024.0 * 1024.0
#: Seconds of untimed passes (the check pass first) between the warm pass
#: and the timed ones.  Passes keep getting faster for 5-15 s after the
#: warm pass (longer on a busy host) while the JIT compiles; timing that
#: slope would make each run's median depend on how fast its JIT was.
SETTLE_S = 8.0
#: The end-to-end metrics use the untraced timed passes whose host CPU
#: steal share is at most this much above the run's least-stolen pass.
#: On a shared host a pass during which the hypervisor takes 10% of the
#: VM's CPU runs 30-80% slower, and such episodes come and go within a
#: run; every pass stays in the run record.
STEAL_MARGIN = 0.02

E2E_UNITS = {
    "pass_s": "s", "query_p50_s": "s", "query_max_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB", "setup_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "queries.build_s": "s", "queries.build_share": "ratio",
    "queries.build_jobs": "count", "queries.build_stages": "count",
    "queries.build_tasks": "count", "queries.build_cpu_s": "s",
    "queries.build_shuffle_write_mb": "MB",
    "operators.action_s": "s", "operators.action_jobs": "count",
    "operators.stages": "count", "operators.tasks": "count",
    "operators.skipped_stage_frac": "ratio", "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s", "operators.gc_s": "s",
    "operators.shuffle_read_mb": "MB", "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB", "operators.task_skew": "ratio",
    "functions.python_worker_cpu_s": "s",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.output_mb": "MB", "sources.output_rows": "count",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "trace.overhead_s": "s", "trace.query_self_s": "s", "trace.pass_self_s": "s",
}


def _stream_listener_class():
    """The listener class, defined on first use so that importing this
    module (the tests do) needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchRecorder(StreamingQueryListener):
        """Keeps every micro-batch progress the session reports."""

        def __init__(self):
            self._lock = threading.Lock()
            self._progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            record = {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "timestamp": p.timestamp,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
            with self._lock:
                self._progress.append(record)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> list[dict]:
            with self._lock:
                out, self._progress = self._progress, []
            return out

    return BatchRecorder


def _stream_totals(batches: list[dict]) -> dict:
    last_by_run: dict[str, dict] = {}
    for b in batches:
        last_by_run[b["run_id"]] = b
    d = [b["duration_ms"] for b in batches]
    return {
        "batches": len(batches),
        "trigger_ms": sum(x.get("triggerExecution", 0) for x in d),
        "add_batch_ms": sum(x.get("addBatch", 0) for x in d),
        "planning_ms": sum(x.get("queryPlanning", 0) for x in d),
        "commit_ms": sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d),
        "state_rows": sum(b["state_rows"] for b in last_by_run.values()),
        "state_mem_mb": sum(b["state_bytes"] for b in last_by_run.values()) / MB,
    }


class Client:
    """The closed-loop client of one run."""

    def __init__(self, args, registry, data_dir: str):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.registry = registry
        self.data_dir = data_dir
        self.tree = procfs.Tree()
        self.rec = Recorder(uuid.uuid4().hex)
        self.spark = None
        self.listener = None
        self.rest = None
        self.failures: list[str] = []
        self.attempted = 0
        # maps the REST/listener wall clock onto span (perf_counter) time
        self.wall_offset = time.time() - time.perf_counter()

    # -- session -----------------------------------------------------------
    def start_session(self):
        from cid_etl_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")

    def _hygiene(self):
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def _group(self, name: str | None):
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        else:
            sc.setJobGroup(name, name)

    # -- one query ---------------------------------------------------------
    def run_query(self, name: str, collect: bool, group: str | None) -> dict:
        """Build and execute one query inside a query span.

        The process tree's CPU is read just before the build and just
        after the action, so the hygiene between queries is left out."""
        self._hygiene()
        if group:
            # drop micro-batches an untraced pass reported late
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            self.listener.take()
        self.attempted += 1
        rec = {"query": name}
        cpu0, py0 = self.tree.cpu()
        with self.rec.span(name, "query") as qspan:
            try:
                with self.rec.span("build", "build") as b:
                    if group:
                        self._group(f"{group}:build")
                    df = self.registry[name](self.spark, self.data_dir)
                with self.rec.span("action", "action") as a:
                    if group:
                        self._group(f"{group}:action")
                    if collect:
                        rec["output"] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - a failed query is a result
                self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                rec["error"] = True
                return rec
            finally:
                if group:
                    self._group(None)
            cpu1, py1 = self.tree.cpu()
            if group:
                rec.update(self._collect(group, qspan))
        rec["cpu_s"], rec["python_cpu_s"] = cpu1 - cpu0, py1 - py0
        rec["build_s"], rec["action_s"] = b.duration, a.duration
        rec["wall_s"] = qspan.duration
        rec["self_s"] = self_time(qspan, self.rec.children(qspan))
        return rec

    def _collect(self, group: str, qspan) -> dict:
        sc = self.spark.sparkContext
        build = stages.aggregate(stages.fetch_group(sc, self.rest, f"{group}:build"))
        action = stages.aggregate(stages.fetch_group(sc, self.rest, f"{group}:action"))
        batches = self.listener.take()
        for bt in batches:
            start = datetime.fromisoformat(bt["timestamp"].replace("Z", "+00:00"))
            t0 = start.timestamp() - self.wall_offset
            t1 = t0 + bt["duration_ms"].get("triggerExecution", 0) / 1e3
            self.rec.add(f"batch {bt['batch_id']}", "micro_batch", t0, t1,
                         qspan.span_id, run_id=bt["run_id"])
        return {"build": build, "action": action, "batches": batches}

    # -- passes ------------------------------------------------------------
    def warm_pass(self, index: int = -1) -> float:
        """Run every query once, untimed; returns the summed query wall time."""
        records = [self.run_query(name, collect=False, group=None)
                   for name in stats.pass_order(self.workload.queries, self.args.seed, index)]
        return sum(r.get("wall_s", 0.0) for r in records)

    def settle(self, twins_sql: dict, cache_dir: str) -> list[float]:
        """The check pass, then untimed noop passes until ``SETTLE_S``
        seconds have passed; returns the noop passes' times."""
        began = time.perf_counter()
        with self.rec.span("check pass", "check"):
            self.check_pass(twins_sql, cache_dir)
        settled: list[float] = []
        while time.perf_counter() - began < SETTLE_S:
            settled.append(self.warm_pass(-2 - len(settled)))
        return settled

    def check_pass(self, twins_sql: dict, cache_dir: str) -> None:
        """Collect every query's output and compare it with its twin."""
        twins = check.Twins(self.data_dir, cache_dir, threads=len(os.sched_getaffinity(0)))
        twins.prefetch([twins_sql[name] for name in self.workload.queries])
        try:
            for name in self.workload.queries:
                want = twins.result(twins_sql[name])
                r = self.run_query(name, collect=True, group=None)
                if "output" in r:
                    why = check.mismatch(r["output"], want)
                    if why:
                        self.failures.append(f"{name}: output differs from twin: {why}")
        finally:
            twins.close()

    def timed_pass(self, index: int, traced: bool) -> dict:
        wl = self.workload.name
        steal0, ticks0 = procfs.host_cpu_ticks()
        with self.rec.span(f"pass {index}", "pass", traced=traced) as ps:
            records = [
                self.run_query(name, collect=False,
                               group=f"{wl}:{index}:{name}" if traced else None)
                for name in stats.pass_order(self.workload.queries, self.args.seed, index)
            ]
        steal1, ticks1 = procfs.host_cpu_ticks()
        return {
            "host_steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "index": index, "traced": traced, "queries": records,
            "pass_s": sum(r.get("wall_s", 0.0) for r in records),
            "span_s": ps.duration,
            "cpu_s": sum(r.get("cpu_s", 0.0) for r in records),
            "python_cpu_s": sum(r.get("python_cpu_s", 0.0) for r in records),
        }

    def run(self, twins_sql: dict, cache_dir: str) -> dict:
        args = self.args
        with self.rec.span("run", "run", seed=args.seed, trace=args.trace):
            with self.rec.span(self.workload.name, "workload"):
                with self.rec.span("setup", "setup"):
                    with self.rec.span("get_spark", "session") as st:
                        self.start_session()
                    with self.rec.span("warm pass", "warm"):
                        warm_s = self.warm_pass()
                setup = {"setup_s": st.duration + warm_s,
                         "start_s": st.duration, "warm_s": warm_s}
                with self.rec.span("settle", "settle"):
                    settled = self.settle(twins_sql, cache_dir)
                if args.trace:
                    self.rest = stages.Rest(self.spark.sparkContext)
                    self.listener = _stream_listener_class()()
                    self.spark.streams.addListener(self.listener)
                # the peak memory counts from here: the timed passes only
                self.tree.reset_peak_rss()
                # two passes at least for a median; traced runs alternate, so
                # they need two of each kind to show counts repeat
                min_passes = 4 if args.trace else 2
                passes = []
                began = time.perf_counter()
                while len(passes) < min_passes or time.perf_counter() - began < args.seconds:
                    passes.append(self.timed_pass(len(passes),
                                                  traced=bool(args.trace) and len(passes) % 2 == 1))
                peak = self.tree.peak_rss_mb()
                java = self.spark.sparkContext._jvm.System.getProperty("java.version")
                self.spark.stop()
        return {"setup": setup, "settle_s": settled, "passes": passes,
                "peak_rss_mb": peak, "java": java}


def measured_passes(result: dict) -> list[dict]:
    """The timed passes the end-to-end metrics use."""
    return stats.quiet_passes([p for p in result["passes"] if not p["traced"]],
                              STEAL_MARGIN)


def e2e_metrics(result: dict) -> dict:
    passes = measured_passes(result)
    walls = [r["wall_s"] for p in passes for r in p["queries"] if "wall_s" in r]
    return {
        "pass_s": stats.median([p["pass_s"] for p in passes]),
        "query_p50_s": stats.median(walls),
        "query_max_s": stats.median(
            [max(r.get("wall_s", 0.0) for r in p["queries"]) for p in passes]
        ),
        "cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": result["peak_rss_mb"],
        "setup_s": result["setup"]["setup_s"],
    }


def layer_metrics(result: dict) -> dict:
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    per_pass = [_pass_layers(p) for p in traced]
    out = {k: stats.median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    out["session.start_s"] = result["setup"]["start_s"]
    out["session.warm_s"] = result["setup"]["warm_s"]
    out["trace.overhead_s"] = (stats.median([p["pass_s"] for p in traced])
                               - stats.median([p["pass_s"] for p in plain]))
    return out


def _pass_layers(p: dict) -> dict:
    qs = [q for q in p["queries"] if "build" in q]
    b = {k: sum(q["build"][k] for q in qs) for k in qs[0]["build"]}
    a = {k: sum(q["action"][k] for q in qs) for k in qs[0]["action"]}
    build_s = sum(q["build_s"] for q in qs)
    action_s = sum(q["action_s"] for q in qs)
    st = _stream_totals([bt for q in qs for bt in q["batches"]])
    return {
        "queries.build_s": build_s,
        "queries.build_share": build_s / (build_s + action_s),
        "queries.build_jobs": b["jobs"],
        "queries.build_stages": b["stages"],
        "queries.build_tasks": b["tasks"],
        "queries.build_cpu_s": b["executor_cpu_s"],
        "queries.build_shuffle_write_mb": b["shuffle_write_mb"],
        "operators.action_s": action_s,
        "operators.action_jobs": a["jobs"],
        "operators.stages": a["stages"],
        "operators.tasks": a["tasks"],
        "operators.skipped_stage_frac": a["skipped_stages"] / max(1, a["planned_stages"]),
        "operators.executor_run_s": a["executor_run_s"],
        "operators.executor_cpu_s": a["executor_cpu_s"],
        "operators.gc_s": a["gc_s"],
        "operators.shuffle_read_mb": a["shuffle_read_mb"],
        "operators.shuffle_write_mb": a["shuffle_write_mb"],
        "operators.spill_mb": a["spill_mb"],
        "operators.task_skew": max(q["action"]["task_skew"] for q in qs),
        "functions.python_worker_cpu_s": p["python_cpu_s"],
        "sources.input_mb": b["input_mb"] + a["input_mb"],
        "sources.input_rows": b["input_rows"] + a["input_rows"],
        "sources.output_mb": b["output_mb"] + a["output_mb"],
        "sources.output_rows": b["output_rows"] + a["output_rows"],
        **{f"streaming.{k}": v for k, v in st.items()},
        "trace.query_self_s": sum(q["self_s"] for q in qs),
        "trace.pass_self_s": p["span_s"] - sum(q["wall_s"] for q in qs),
    }


def environment(java: str) -> dict:
    import pyspark

    keys = ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
            "SPARK_LOCAL_DIRS", "TMPDIR")
    return {
        "host": platform.node(), "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": java, **{k: os.environ.get(k, "") for k in keys},
    }


def _print_report(args, env, result, metrics, units) -> None:
    wl = WORKLOADS[args.workload]
    print(f"# perfbench workload={wl.name} seed={args.seed} trace={args.trace}")
    print("# env " + " ".join(f"{k}={v}" for k, v in env.items()))
    print(f"# why: {wl.why}")
    for name, why in DROPPED.items():
        print(f"# dropped workload {name}: {why}")
    for name, why in EXCLUDED.items():
        print(f"# excluded query {name}: {why}")
    untraced = [p for p in result["passes"] if not p["traced"]]
    measured = measured_passes(result)
    print(f"# measured passes: {len(measured)} of {len(untraced)} untraced, those with "
          f"host CPU steal at most {100 * STEAL_MARGIN:g} points above the least")
    walls = [r["wall_s"] for p in measured for r in p["queries"] if "wall_s" in r]
    for label, values in (
        ("pass_s", [p["pass_s"] for p in measured]),
        ("query_s", walls),
    ):
        s = stats.summary(values)
        tail = "n/a" if s["tail"] is None else f"p{s['tail_pct']:g}={s['tail']:.4f}"
        print(f"# {label}: median={s['median']:.4f} {tail} n={s['n']}")
    setup = result["setup"]
    print(f"# setup_s: {setup['setup_s']:.4f} (get_spark {setup['start_s']:.4f}"
          f" + warm pass {setup['warm_s']:.4f}) n=1")
    print("# untimed settle passes (s): "
          + " ".join(f"{x:.3f}" for x in result["settle_s"]))
    steal = stats.median([p["host_steal_share"] for p in result["passes"]])
    print(f"# host CPU steal during timed passes: {100 * steal:.1f}%")
    traced = [p for p in result["passes"] if p["traced"]]
    if traced:
        for phase in ("build", "action"):
            counts = [sum(q[phase]["jobs"] for q in p["queries"] if phase in q)
                      for p in traced]
            print(f"# {phase}_jobs per traced pass: {counts}")
    for name, value in metrics.items():
        print(f"{wl.name} {name} = {value:.6g} {units[name]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cache", required=True, help="directory for cached twin results")
    ap.add_argument("--results", required=True, help="directory for the run record")
    args = ap.parse_args(argv)

    from cid_etl_spark.queries import oracle_queries, spark_queries

    wl = WORKLOADS[args.workload]
    client = Client(args, spark_queries(), DATA_DIR)
    result = client.run(oracle_queries(), args.cache)
    env = environment(result["java"])
    if args.trace:
        metrics, units = layer_metrics(result), LAYER_UNITS
    else:
        metrics, units = e2e_metrics(result), E2E_UNITS
    failed = len(client.failures)
    for f in client.failures:
        print(f"# FAILED {f}", file=sys.stderr)

    os.makedirs(args.results, exist_ok=True)
    record = {"env": env, "args": vars(args), "failures": client.failures,
              "setup": result["setup"], "settle_s": result["settle_s"],
              "passes": result["passes"],
              "metrics": metrics, "trace": client.rec.to_json()}
    path = os.path.join(args.results, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    _print_report(args, env, result, metrics, units)
    print(f"# failed_frac = {failed / client.attempted:.6g} ({failed}/{client.attempted})")
    print(f"# run record: {path}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": client.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
