"""Tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import (  # noqa: E402
    artifact_segments,
    attribute_execution,
    covered_ms,
    latency_summary,
    nearest_rank,
    stage_cover,
    stage_delta,
    stage_totals,
    tail_level,
)


# --- percentile rule -------------------------------------------------------


@pytest.mark.parametrize(
    "n, level",
    [(100, 90), (1000, 90), (72, 86), (36, 72), (27, 62), (22, 54), (20, 50), (10, 50), (1, 50)],
)
def test_tail_level_is_highest_percentile_with_ten_beyond(n, level):
    assert tail_level(n) == level


def test_tail_level_always_leaves_ten_samples_beyond():
    for n in range(11, 400):
        q = tail_level(n)
        values = list(range(n))
        if q > 50:
            assert sum(1 for v in values if v > nearest_rank(values, q)) >= 10
            # one percentile higher would leave fewer than ten (or pass p90)
            if q < 90:
                assert sum(1 for v in values if v > nearest_rank(values, q + 1)) < 10


def test_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(values, 50) == 3.0
    assert nearest_rank(values, 90) == 5.0
    assert nearest_rank(values, 1) == 1.0
    assert nearest_rank([1.0, 2.0, 3.0, 10.0], 50) == 2.0


def test_latency_summary_reports_level_and_count():
    s = latency_summary([float(i) for i in range(1, 101)])
    assert (s["p50"], s["tail"], s["tail_level"], s["n"]) == (50.0, 90.0, 90, 100)
    # the geomean is not swamped by one outlier
    assert latency_summary([1.0, 1.0, 1.0, 1000.0])["geomean"] == pytest.approx(1000 ** 0.25)


# --- stage-window coverage -------------------------------------------------


def test_covered_ms_unions_overlaps_and_clips():
    windows = [(0, 10), (5, 15), (20, 30), (28, 40), (100, 200)]
    assert covered_ms(windows, 0, 50) == 15 + 20
    assert covered_ms(windows, 8, 25) == 7 + 5
    assert covered_ms([], 0, 10) == 0
    assert covered_ms([(50, 60)], 0, 10) == 0


@pytest.mark.parametrize(
    "windows",
    [[], [(0, 1000)], [(-5, 3), (2, 4), (8, 12)], [(1, 2), (1, 2), (3, 9)]],
)
def test_stage_cover_parts_add_up_to_wall(windows):
    covered, unattributed = stage_cover(windows, 0, 10)
    assert covered + unattributed == pytest.approx(10)
    assert 0 <= covered <= 10 and unattributed >= 0


# --- status-store delta arithmetic ------------------------------------------


def _stage(sid, run_ms, tasks=4, attempt=0):
    return {"stage": sid, "attempt": attempt, "tasks": tasks, "run_ms": run_ms,
            "cpu_ns": run_ms * 1_000_000, "gc_ms": 1, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "output_bytes": 0}


def test_stage_delta_counts_new_and_grown_stages_only():
    before = {(1, 0): _stage(1, 100), (2, 0): _stage(2, 50, tasks=2)}
    after = {
        (1, 0): _stage(1, 100),  # unchanged: left out
        (2, 0): _stage(2, 80, tasks=4),  # was running: only the growth
        (3, 0): _stage(3, 40),  # new: all of it
        (3, 1): _stage(3, 10, attempt=1),  # a retry is its own attempt
    }
    delta = {(d["stage"], d["attempt"]): d for d in stage_delta(before, after)}
    assert set(delta) == {(2, 0), (3, 0), (3, 1)}
    assert delta[(2, 0)]["run_ms"] == 30 and delta[(2, 0)]["tasks"] == 2
    assert delta[(2, 0)]["gc_ms"] == 0
    assert delta[(3, 0)]["run_ms"] == 40 and delta[(3, 0)]["gc_ms"] == 1
    totals = stage_totals(list(delta.values()))
    assert totals["run_ms"] == 80 and totals["tasks"] == 10 and totals["stages"] == 3


def test_stage_delta_of_identical_snapshots_is_empty():
    snap = {(1, 0): _stage(1, 100)}
    assert stage_delta(snap, dict(snap)) == []


# --- attribution of SQL executions to artifacts ----------------------------

_OUT = "/w/out/collection0"
_PATHS = {
    "lineage_sql": f"{_OUT}/lineage_sql",
    "lineage_sql_columns": f"{_OUT}/lineage_sql_columns",
    "table_stats": f"{_OUT}/table_stats",
}


def _write_plan(path):
    return (
        "== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (4)\n"
        f"+- WriteFiles (3)\n\n(4) Execute InsertIntoHadoopFsRelationCommand\n"
        f"Arguments: file:{path}, false, Parquet, [path=file:{path}], Overwrite\n"
    )


def _read_plan(path):
    return (
        "== Physical Plan ==\nAdaptiveSparkPlan (5)\n\n(1) Scan parquet \n"
        f"Output: []\nBatched: true\nLocation: InMemoryFileIndex [file:{path}]\n"
    )


def test_attribution_by_output_and_input_path():
    assert attribute_execution(_write_plan(_PATHS["table_stats"]), _PATHS) == (
        "write", "table_stats")
    assert attribute_execution(_read_plan(_PATHS["table_stats"]), _PATHS) == (
        "reread", "table_stats")


def test_attribution_matches_whole_paths_only():
    cols = _PATHS["lineage_sql_columns"]
    assert attribute_execution(_write_plan(cols), _PATHS) == ("write", "lineage_sql_columns")
    assert attribute_execution(_read_plan(cols), _PATHS) == ("reread", "lineage_sql_columns")
    # a part file below the directory still belongs to it
    assert attribute_execution(
        _read_plan(_PATHS["lineage_sql"] + "/part-0.parquet"), _PATHS
    ) == ("reread", "lineage_sql")


def test_build_time_executions_are_not_attributed():
    plan = "== Physical Plan ==\n(1) Scan parquet \nLocation: InMemoryFileIndex [file:/data/orders.parquet]\n"
    assert attribute_execution(plan, _PATHS) is None


def test_artifact_segments_partition_the_collection_wall():
    ex = [
        {"kind": "write", "artifact": "a", "start_ms": 1010, "end_ms": 1100},
        {"kind": "reread", "artifact": "a", "start_ms": 1105, "end_ms": 1120},
        {"kind": "write", "artifact": "b", "start_ms": 1300, "end_ms": 1350},
        {"kind": "reread", "artifact": "b", "start_ms": 1360, "end_ms": 1380},
    ]
    seg = artifact_segments(1000, ["a", "b"], ex)
    assert seg["a"] == {"start_ms": 1000, "end_ms": 1120, "build_ms": 10,
                        "write_ms": 90, "reread_ms": 15}
    assert seg["b"]["start_ms"] == 1120 and seg["b"]["build_ms"] == 180
    total = sum(s["end_ms"] - s["start_ms"] for s in seg.values())
    assert total == 1380 - 1000
    assert not math.isnan(total)
