"""bench.py's stage records: read from the status store of the timed
runs themselves, adding up to each key's reported wall, and leaving
the caller's job group in place."""

from __future__ import annotations

import bench

KEYS = ("q_join_agg", "q_topk")


def test_prepared_timing_records_stages_of_the_best_run(spark, sf_dir):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("caller-group", "caller")
    try:
        timings, records = bench._time_prepared(
            spark, {k: bench.HEADLINE[k] for k in KEYS}, sf_dir
        )
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller"
        before = set(tracker.getJobIdsForGroup("caller-group"))
        spark.range(3).count()
        after = set(tracker.getJobIdsForGroup("caller-group"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)

    new_jobs = after - before
    assert new_jobs, "a job after the call must run in the caller's group"
    for key in KEYS:
        for run in range(3):
            assert not new_jobs & set(tracker.getJobIdsForGroup(f"bench|{key}|{run}"))

    assert set(timings) == set(records) == set(KEYS)
    for key in KEYS:
        rec = records[key]
        assert rec["jobs"] >= 1
        assert len(rec["stages"]) >= 1
        for stage in rec["stages"]:
            assert stage["tasks"] >= 1
            for name in (
                "wall_ms",
                "run_ms",
                "cpu_ms",
                "gc_ms",
                "shuffle_write_bytes",
                "spill_bytes",
            ):
                assert stage[name] >= 0, (key, name, stage)
        assert rec["wall_s"] == timings[key]
        assert rec["covered_s"] >= 0 and rec["unattributed_s"] >= 0
        assert abs(rec["covered_s"] + rec["unattributed_s"] - rec["wall_s"]) <= 0.001
