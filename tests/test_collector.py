"""Collector product-surface tests: run_collection persists every
catalog artifact with its true row count, fails and cancels as its
docstring says, and the snapshot diff classifies changes correctly."""

from __future__ import annotations

import threading
import time

import pytest

from pyspark.sql import functions as F

from hive_metadata_collect_spark import collector, registry
from hive_metadata_collect_spark.collector import (
    ARTIFACTS,
    run_collection,
    snapshot_diff,
)


def _collector_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith("collector")]


def test_run_collection_writes_all_artifacts(spark, sf_dir, tmp_path):
    out = str(tmp_path / "snap1")
    manifest = run_collection(spark, sf_dir, out).collect()
    assert [r["artifact"] for r in manifest] == list(ARTIFACTS)
    for r in manifest:
        # the write's own count must equal a count of what it wrote
        assert r["n_rows"] == spark.read.parquet(r["path"]).count(), r
        assert r["n_rows"] > 0, r
    # read one artifact back and sanity-check its schema
    inv = spark.read.parquet(f"{out}/metastore_denorm")
    assert {"db_name", "table_name", "n_columns", "n_rows"} <= set(inv.columns)


def test_run_collection_reraises_first_failure_and_cancels_the_rest(
    spark, tmp_path, monkeypatch
):
    """Two artifacts raise: the one later in ARTIFACTS order raises
    first, yet the earlier one's own exception is re-raised. Artifacts
    queued behind the pool are cancelled, and no pool thread is left."""
    first, second = ValueError("first in order"), ValueError("first in time")
    started = []

    def ok(spark, sf_dir):
        return spark.range(3)

    def late_failure(spark, sf_dir):
        time.sleep(0.5)
        raise first

    def early_failure(spark, sf_dir):
        raise second

    def queued(spark, sf_dir):
        started.append(1)
        time.sleep(1.0)
        return spark.range(3)

    fns = {"ok": ok, "late": late_failure, "early": early_failure, "queued": queued}
    ops = {name: registry.Op(name, fn, None, 0) for name, fn in fns.items()}
    artifacts = {"ok": "ok", "late": "late", "early": "early"}
    artifacts.update({f"queued{i}": "queued" for i in range(12)})
    width = 3
    monkeypatch.setattr(registry, "load_all", lambda: ops)
    monkeypatch.setattr(collector, "ARTIFACTS", artifacts)
    monkeypatch.setattr(
        collector, "host_profile", lambda: {"cores": width}
    )
    with pytest.raises(ValueError) as err:
        run_collection(spark, "unused", str(tmp_path))
    assert err.value is first
    # at most one queued artifact per pool thread can start between the
    # first failure and the cancel
    assert len(started) <= width, started
    assert _collector_threads() == []


def test_cancel_job_group_cancels_a_collection(spark, tmp_path, monkeypatch):
    """The caller's job group reaches every pool thread, so cancelling
    it stops a running collection."""
    group = "collector-cancel-test"
    slow = registry.Op(
        "slow",
        lambda spark, sf_dir: spark.range(40, numPartitions=4).select(
            "id", F.expr("reflect('java.lang.Thread', 'sleep', 250L)").alias("slept")
        ),
        None,
        0,
    )
    monkeypatch.setattr(registry, "load_all", lambda: {"slow": slow})
    monkeypatch.setattr(collector, "ARTIFACTS", {f"slow{i}": "slow" for i in range(6)})
    sc = spark.sparkContext
    outcome = {}

    def caller():
        sc.setJobGroup(group, "collection under cancel", interruptOnCancel=True)
        try:
            run_collection(spark, "unused", str(tmp_path))
        except Exception as exc:  # the cancellation is the expected outcome
            outcome["error"] = exc

    t = threading.Thread(target=caller)
    t.start()
    deadline = time.monotonic() + 120
    while t.is_alive() and time.monotonic() < deadline:
        if sc.statusTracker().getJobIdsForGroup(group):
            sc.cancelJobGroup(group)
        time.sleep(0.05)
    t.join(timeout=60)
    assert not t.is_alive()
    assert "cancel" in str(outcome.get("error", "")).lower(), outcome
    assert _collector_threads() == []


def test_snapshot_diff_classifies_changes(spark, sf_dir, tmp_path):
    prev = str(tmp_path / "prev")
    cur = str(tmp_path / "cur")
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "table_name string, n_rows long"
    )
    base.write.mode("overwrite").parquet(f"{prev}/table_stats")
    changed = spark.createDataFrame(
        [("a", 1), ("b", 20), ("d", 4)], "table_name string, n_rows long"
    )
    changed.write.mode("overwrite").parquet(f"{cur}/table_stats")
    out = {
        r["table_name"]: r["change_type"]
        for r in snapshot_diff(spark, prev, cur, "table_stats", "table_name").collect()
    }
    assert out == {
        "a": "unchanged",
        "b": "changed",
        "c": "delete",
        "d": "insert",
    }
