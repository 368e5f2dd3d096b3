"""Pure arithmetic behind the benchmark's numbers: percentiles, stage
coverage of an operation's wall, status-store deltas and attribution of
SQL executions to collector artifacts.

Nothing here touches Spark; ``perfbench/tests`` exercises every rule.
"""

from __future__ import annotations

import math
import re
from statistics import geometric_mean

#: A tail percentile needs at least this many samples above it.
TAIL_BEYOND = 10


def tail_level(n: int, cap: int = 90, beyond: int = TAIL_BEYOND) -> int:
    """Highest whole percentile ``q <= cap`` whose nearest-rank value
    leaves at least ``beyond`` of ``n`` samples above it; never below
    the median (50), which is what is left when ``n`` is too small."""
    if n <= beyond:
        return 50
    q = min(cap, math.floor(100 * (n - beyond) / n))
    while q > 50 and n - math.ceil(q * n / 100) < beyond:
        q -= 1
    return max(50, q)


def nearest_rank(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` % of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered) / 100))
    return ordered[rank - 1]


def latency_summary(latencies: list[float]) -> dict[str, float]:
    """Median and tail (nearest rank, see :func:`tail_level`) and geomean
    of one run's per-operation latencies, with the level and sample count
    used."""
    level = tail_level(len(latencies))
    return {
        "p50": nearest_rank(latencies, 50),
        "tail": nearest_rank(latencies, level),
        "tail_level": level,
        "geomean": geometric_mean(latencies),
        "n": len(latencies),
    }


def covered_ms(windows: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``windows`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in windows if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def stage_cover(
    windows: list[tuple[float, float]], lo: float, hi: float
) -> tuple[float, float]:
    """Split the wall ``[lo, hi]`` into (covered by some stage window,
    covered by none); the two parts always add up to ``hi - lo``."""
    wall = max(0.0, hi - lo)
    covered = min(wall, covered_ms(windows, lo, hi))
    return covered, wall - covered


#: Numeric per-stage counters read from the status store.
STAGE_COUNTERS = (
    "tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


def stage_delta(
    before: dict[tuple[int, int], dict], after: dict[tuple[int, int], dict]
) -> list[dict]:
    """Work done between two status-store snapshots.

    Snapshots map ``(stage id, attempt)`` to a record holding the
    :data:`STAGE_COUNTERS`. A stage new in ``after`` contributes all its
    counters; a stage in both contributes the difference (it was still
    running at the first snapshot); a stage whose counters did not move
    is left out."""
    out = []
    for key, rec in after.items():
        prev = before.get(key)
        delta = dict(rec)
        for name in STAGE_COUNTERS:
            delta[name] = rec.get(name, 0) - (prev.get(name, 0) if prev else 0)
        if prev is None or any(delta[name] for name in STAGE_COUNTERS):
            out.append(delta)
    return out


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Sum the counters of a list of stage records."""
    totals = {name: 0 for name in STAGE_COUNTERS}
    for rec in stages:
        for name in STAGE_COUNTERS:
            totals[name] += rec.get(name, 0)
    totals["stages"] = len(stages)
    return totals


_PATH_END = r"(?=[\]\[,\s/)]|$)"


def _mentions(text: str, path: str) -> bool:
    return re.search(re.escape(path.rstrip("/")) + _PATH_END, text) is not None


def attribute_execution(
    plan: str, artifact_paths: dict[str, str]
) -> tuple[str, str] | None:
    """Classify one SQL execution of a collection by its physical plan.

    Returns ``("write", artifact)`` for the parquet insert into that
    artifact's directory, ``("reread", artifact)`` for a scan whose file
    index lists it, and ``None`` for anything else (a job that ran while
    an artifact's frame was being built). A path only matches whole:
    ``.../lineage_sql`` does not match ``.../lineage_sql_columns``."""
    writes = "InsertIntoHadoopFsRelationCommand" in plan
    locations = [line for line in plan.splitlines() if "Location:" in line]
    for artifact, path in artifact_paths.items():
        if writes and _mentions(plan, path):
            return ("write", artifact)
        if any(_mentions(line, path) for line in locations):
            return ("reread", artifact)
    return None


def artifact_segments(
    start_ms: float, order: list[str], executions: list[dict]
) -> dict[str, dict[str, float]]:
    """Split a collection's wall into one consecutive segment per
    artifact, in collection order.

    ``executions`` are attributed SQL executions (``kind``, ``artifact``,
    ``start_ms``, ``end_ms``). An artifact's segment runs from the end of
    the previous artifact's last execution (or the collection start) to
    the end of its own last execution; the part before its write starts
    is the build (Python DAG construction plus any jobs run while
    building)."""
    by_artifact: dict[str, list[dict]] = {}
    for ex in executions:
        by_artifact.setdefault(ex["artifact"], []).append(ex)
    out, prev_end = {}, start_ms
    for artifact in order:
        mine = by_artifact.get(artifact)
        if not mine:
            continue
        writes = [e for e in mine if e["kind"] == "write"]
        first = min(e["start_ms"] for e in (writes or mine))
        end = max(e["end_ms"] for e in mine)
        out[artifact] = {
            "start_ms": prev_end,
            "end_ms": end,
            "build_ms": max(0.0, first - prev_end),
            "write_ms": sum(e["end_ms"] - e["start_ms"] for e in writes),
            "reread_ms": sum(
                e["end_ms"] - e["start_ms"] for e in mine if e["kind"] == "reread"
            ),
        }
        prev_end = end
    return out
