"""Pre-execution plan readers.

Physical-plan fact extraction shared by scripts/plan_report.py (the
PLANS.md audit) and tests/test_plan_shape.py (the frozen invariants).
Facts come from the pre-execution physical plan string; 'exchanges'
counts DISTINCT shuffle exchanges (the tree printer repeats a reused
exchange once per consuming branch — dedup by plan_id).

Catalyst's size estimate of an optimized plan (``estimated_bytes``,
``fits_broadcast``), the one signal every broadcast-vs-shuffle choice
in the package reads."""

from __future__ import annotations

import re


# Catalyst reports Long.MaxValue when a plan's size is unknowable pre-
# execution — in this engine that is exactly the driver-created local
# frames (createDataFrame dictionaries), which fit in driver memory by
# construction. File-backed inputs (the at-scale case) always carry real
# file-size stats, so size thresholds govern where it matters; callers
# with an unknown-stats frame they KNOW is big force the large regime.
STATS_UNKNOWN = (1 << 63) - 1


def estimated_bytes(df) -> int:
    """Catalyst's pre-execution size estimate for a plan: file sizes for
    scans, propagated through projections and filters; ``STATS_UNKNOWN``
    for driver-local/RDD-backed plans. No job is triggered — this is the
    same signal the planner's own broadcast decision reads."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def fits_broadcast(df, max_bytes: int) -> bool:
    """True when the estimate is at most ``max_bytes`` or unknowable."""
    est = estimated_bytes(df)
    return est == STATS_UNKNOWN or est <= max_bytes


def plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_facts(plan: str) -> dict:
    exchanges = set(
        re.findall(r"Exchange (?:hash|range)partitioning\([^\n]*\[plan_id=(\d+)\]", plan)
    )
    scans = []
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*", plan):
        cols = sorted({c.split("#")[0] for c in m.group(1).split(",") if c})
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", m.group(0))
        scans.append((cols, pushed.group(1) if pushed else ""))
    seen = set()
    scans = [s for s in scans if not (tuple(s[0]) in seen or seen.add(tuple(s[0])))]
    return {
        "exchanges": len(exchanges),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "arrow_stages": plan.count("MapInPandas")
        + plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas"),
        "scans": scans,
    }
