"""Generate PLAN_AUDIT.md: one physical-plan quality row per registered
query.

Counts the plan features that matter at 100 TB — shuffle exchanges,
broadcast joins, sort-merge joins, nested-loop joins, sort vs hash
aggregates, whole-stage codegen spans, scans with pushed filters — so
plan regressions are visible in review diffs, not just in bench wall
time. Run from the repo root:

    python tools/plan_audit.py

The BNLJ column should stay 0 except for the documented tiny-side
generator/probe broadcasts (tests/test_plans.py pins the allowance).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def audit(sf_dir: str = "/root/testdata/sf0.001") -> str:
    from adcirctime2cogs_spark import registry
    from adcirctime2cogs_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    # With AQE on, the pre-execution plan is an AdaptiveSparkPlan that
    # has no WholeStageCodegen insertion yet — every wscg count would
    # read 0. The audit is about STATIC plan quality, so plan with AQE
    # off (codegen spans appear as `*(N)` node prefixes) and restore.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _audit_body(spark, sf_dir)
    finally:
        # a query raising mid-loop must not leave the shared session
        # with AQE off for whatever runs next in this process
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


def _audit_body(spark, sf_dir: str) -> str:
    from adcirctime2cogs_spark import registry

    lines = [
        "# PLAN_AUDIT — physical-plan features per registered query",
        "",
        f"Generated by tools/plan_audit.py at sf_dir={sf_dir}.",
        "Columns: shuffle/broadcast exchanges, join operators, aggregate",
        "strategy, whole-stage-codegen span count, parquet scans carrying",
        "pushed filters. CartesianProduct anywhere is a failure (also",
        "gated in tests/test_plans.py).",
        "",
        "sortAgg is expected to be 0 everywhere: the argmin/argmax family",
        "(weights pick, CDC latest-change, forward as-of) uses",
        "hash-aggregable forms — per-column primitive min_by, int-flag",
        "max_by, packed-BIGINT min. Measured on the isolated weights",
        "aggregate at 1M nodes / 6.25M cells: per-column min_by 1.9-3.0s",
        "vs struct min_by SortAggregate 2.6-4.0s per pass (round 4,",
        "local[32]); gated by test_argmin_family_is_hash_agg_not_sort.",
        "",
        "| query | xchg | bcast | SMJ | BHJ | BNLJ | hashAgg | sortAgg | wscg | scans | pushed |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    spark.catalog.clearCache()
    for name, fn in sorted(registry.all_queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            explained = df._jdf.queryExecution().toString()
        except Exception as exc:  # pragma: no cover - audit robustness
            lines.append(f"| {name} | ERROR: {str(exc)[:60]} |")
            continue
        row = [
            name,
            plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange RoundRobinPartitioning"),
            plan.count("BroadcastExchange"),
            plan.count("SortMergeJoin"),
            plan.count("BroadcastHashJoin"),
            plan.count("BroadcastNestedLoopJoin"),
            plan.count("HashAggregate"),
            plan.count("SortAggregate"),
            # executedPlan().toString() renders whole-stage codegen as
            # `*(N) Node` prefixes (not `WholeStageCodegen (N)` — that's
            # the formatted-explain spelling); count distinct stage ids
            len(set(re.findall(r"\*\((\d+)\)", plan))),
            plan.count("FileScan parquet"),
            explained.count("PushedFilters: [")
            - explained.count("PushedFilters: []"),
        ]
        assert "CartesianProduct" not in plan, name
        lines.append("| " + " | ".join(str(c) for c in row) + " |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    out = audit()
    with open(os.path.join(ROOT, "PLAN_AUDIT.md"), "w") as fh:
        fh.write(out)
    print(out.splitlines()[0])
    print(f"{len(out.splitlines()) - 9} rows -> PLAN_AUDIT.md")
