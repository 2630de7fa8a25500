"""Plan-shape assertions over df.explain output (SURVEY.md §4
discipline).

The reference has no optimizer (SURVEY §4.1) — ours is Catalyst, and
these helpers make plan *shape* testable: the flagship must stay
"scan -> one exchange -> MapInPandas", scans must prune columns, small
dimension joins must broadcast. tests/test_plans.py enforces this so a
regression that adds a shuffle or widens a scan fails CI.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan.

    Counts node-detail headers ("(3) Exchange") so each operator counts
    once; excludes BroadcastExchange — broadcasting a small side is the
    point, not a data shuffle.
    """
    plan = physical_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))


def count_data_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges that move data BY KEY (hash/range
    partitioning). Excludes RoundRobinPartitioning: the input-
    spreading exchange (``operators.skew.spread_small_scan``) exists
    only for sub-parallelism single-split scans and is the identity at
    real scale, so pins on keyed-shuffle counts must not trip on it.
    """
    plan = physical_plan(df, "simple")
    return len(re.findall(
        r"Exchange (?:hashpartitioning|rangepartitioning)", plan))


def has_broadcast_join(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings of every file scan (column-pruning check)."""
    plan = physical_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)
