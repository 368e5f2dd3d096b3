"""Physical-plan inspection helpers.

The engine's scale story rests on verifiable plan properties —
filters reaching the parquet scan, dims broadcasting, top-k never
globally sorting, aggregates running partial+final. These helpers
expose the executed plan as text so tests (tests/test_plans.py) can
assert those properties instead of trusting comments, and give the
operators that pick a join topology the plan-time size estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Final (post-AQE where applicable) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate of ``df`` (file sizes ×
    filter selectivity, the stats autoBroadcastJoinThreshold uses).
    Reading it plans the query but runs no job."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes()))


def scan_summary(df: DataFrame) -> str:
    """The FileScan lines (contain PushedFilters / ReadSchema)."""
    return "\n".join(
        line
        for line in df._jdf.queryExecution().executedPlan()
        .toString()
        .splitlines()
        if "FileScan" in line or "PushedFilters" in line or "ReadSchema" in line
    )


def shuffled_hash_joins(df: DataFrame) -> list[tuple[str, str, list[str]]]:
    """(build side plan, probe side plan, probe side columns) of every
    ShuffledHashJoin in the physical plan, outermost first. Before the
    query runs, an adaptive plan shows its initial physical plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    joins, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "ShuffledHashJoin":
            build_right = node.buildSide().toString() == "BuildRight"
            build, probe = (
                (node.right(), node.left()) if build_right
                else (node.left(), node.right())
            )
            cols = [a.name() for a in _seq(probe.output())]
            joins.append((build.toString(), probe.toString(), cols))
        stack.extend(reversed(_seq(node.children())))
    return joins


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def assert_plan(df: DataFrame, *, contains: tuple[str, ...] = (), absent: tuple[str, ...] = ()) -> None:
    plan = physical_plan(df)
    for node in contains:
        assert node in plan, f"expected {node} in plan:\n{plan}"
    for node in absent:
        assert node not in plan, f"did not expect {node} in plan:\n{plan}"
