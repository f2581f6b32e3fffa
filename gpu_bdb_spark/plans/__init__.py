"""Physical-plan introspection — the scale-correctness checks.

The reference hand-codes every optimization (SURVEY.md §4); on Spark those
come from Catalyst, so the engineering duty shifts to *asserting* the plan
is the one we'd want at 100 TB: filters reach the parquet scan, projections
prune the read schema, small dims broadcast, aggregates are partial before
the shuffle. These helpers parse `explain("formatted")` output and are used
in tests/test_plans.py.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_read_schemas(plan: str) -> list[str]:
    """ReadSchema lines of every parquet scan in the plan."""
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in plan.splitlines()
        if "ReadSchema:" in line
    ]


def pushed_filters(plan: str) -> list[str]:
    """PushedFilters entries of every scan (non-empty means the filter
    reached the parquet reader → row-group stats pruning at scale)."""
    return [
        line.split("PushedFilters:", 1)[1].strip()
        for line in plan.splitlines()
        if "PushedFilters:" in line
    ]


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_partial_aggregate(plan: str) -> bool:
    """Two-phase aggregation: a partial HashAggregate before the exchange
    (map-side combine — the reference does this by hand, q02:119-120)."""
    return "partial" in plan and "HashAggregate" in plan


def has_top_k(plan: str) -> bool:
    """orderBy+limit compiled to distributed TakeOrderedAndProject (no
    global sort materialization)."""
    return "TakeOrderedAndProject" in plan
