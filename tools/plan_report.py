#!/usr/bin/env python3
"""Generate PLANS.md: physical-plan metrics for every registered query.

For each entry in the registry this prints the counts a reviewer needs
to audit the 100 TB story without re-running anything: hash exchanges
(shuffles), broadcast vs sort-merge vs nested-loop joins, Python
evaluation stages (Arrow vs none), and whether the scan carries pushed
filters.  Run at sf0.001 — plan SHAPE, not timing, is the subject.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from cid_etl_spark.plans.audit import (
        lowcard_partition_windows,
        single_partition_windows,
    )
    from cid_etl_spark.plans.fragments import plan_only
    from cid_etl_spark.queries import oracle_queries, spark_queries
    from cid_etl_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = spark_queries(), oracle_queries()

    lines = [
        "# PLANS — physical-plan metrics per registered query",
        "",
        f"Generated by `tools/plan_report.py` at `{SF_DIR}` "
        "(plan shape only; AQE runtime re-optimization may tighten these "
        "further by turning shuffle joins into broadcasts).",
        "",
        "Columns: shuffles = `Exchange hashpartitioning` count; "
        "BHJ/SMJ/BNLJ = broadcast-hash / sort-merge / broadcast-nested-"
        "loop join counts; py = Python eval stages (`ArrowEval`/"
        "`BatchEval`/`mapInPandas`/`FlatMapGroupsInPandas`/"
        "`FlatMapCoGroupsInPandas`); spw = SUSPECT single-partition "
        "windows (`Window → Sort → Exchange SinglePartition` chains — "
        "the scale anti-pattern shuffle counts can't see; every "
        "non-zero entry must be justified in tests/test_plans.py's "
        "audit table); spw-b = bounded ones (the `__bucket` offset "
        "rollup of bucketed_cumsum/bucketed_row_number, ≤ n_buckets "
        "rows by construction); lcw = ordered/unframed windows "
        "partitioned ONLY by low-cardinality columns (one task per "
        "value — fact/|values| per task unless the input grain is "
        "bounded; WindowGroupLimit-pruned rank-filters and the "
        "partitioned bucket-offset rollups are exempt; every non-zero "
        "entry must be justified in tests/test_plans.py); pushed = "
        "scan has PushedFilters; oracle = DuckDB twin exists.",
        "",
        "| query | shuffles | BHJ | SMJ | BNLJ | py | spw | spw-b | lcw | pushed | oracle |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name in sorted(queries):
        # Plan SHAPE is the subject here — queries that run a bounded
        # sizing job or an eager checkpoint at DataFrame-construction
        # time (adamic_adar's pair-volume aggregate, ADVICE r12 #2)
        # skip it under plan_only and fall back to defaultParallelism
        # for their adaptive widths.
        try:
            with plan_only():
                plan = (
                    queries[name](spark, SF_DIR)
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
        except Exception as ex:  # pragma: no cover - report, don't die
            lines.append(
                f"| {name} | plan error: {str(ex)[:60]} | | | | | | | | | |"
            )
            continue
        # "FlatMapGroupsInPandas" does NOT substring-match
        # "FlatMapCoGroupsInPandas" — the r5 report missed cogroup
        # stages (py=0 for cogroup_click_purchase); count it explicitly
        py = (
            plan.count("ArrowEvalPython")
            + plan.count("BatchEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("FlatMapCoGroupsInPandas")
            + plan.count("PythonMapInArrow")
        )
        spw = single_partition_windows(plan)
        lines.append(
            "| {} | {} | {} | {} | {} | {} | {} | {} | {} | {} | {} |".format(
                name,
                plan.count("Exchange hashpartitioning"),
                plan.count("BroadcastHashJoin"),
                plan.count("SortMergeJoin"),
                plan.count("BroadcastNestedLoopJoin"),
                py,
                spw["suspect"],
                spw["bounded"],
                lowcard_partition_windows(plan),
                # any scan with a non-empty pushed-filter list counts: a
                # multi-scan plan may mix pushed and unpushed scans, so
                # "PushedFilters: []" appearing somewhere must not veto
                "y" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
                "y" if name in oracles else "rows-only",
            )
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(queries)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
