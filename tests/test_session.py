"""The host profile, the conf table both session paths apply, the
generated-class cache, and the scoped-conf helper."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hive_metadata_collect_spark import session

_ENV = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DUCK_MEM",
)


@pytest.fixture()
def fake_host(monkeypatch):
    """A 6-core, 16 GiB host with no SPARK_GRAFT_* overrides."""
    for var in _ENV:
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: set(range(6)))
    monkeypatch.setattr(session, "mem_total_kb", lambda: 16 << 20)
    return monkeypatch


def test_profile_rule_from_host(fake_host):
    assert session.host_profile() == {
        "cores": 6,
        "master": "local[6]",
        "driver_mem": "4g",
        "shuffle_partitions": 12,
        "duck_mem": "4GB",
    }


def test_profile_heap_floor_is_one_gib(fake_host):
    fake_host.setattr(session, "mem_total_kb", lambda: 3 << 20)
    prof = session.host_profile()
    assert (prof["driver_mem"], prof["duck_mem"]) == ("1g", "1GB")


@pytest.mark.parametrize(
    "var, value, key, expected",
    [
        ("SPARK_GRAFT_CPUS", "3", "master", "local[3]"),
        ("SPARK_GRAFT_CPUS", "3", "shuffle_partitions", 6),
        ("SPARK_GRAFT_DRIVER_MEM", "7g", "driver_mem", "7g"),
        ("SPARK_GRAFT_SHUFFLE", "40", "shuffle_partitions", 40),
        ("SPARK_GRAFT_DUCK_MEM", "5GB", "duck_mem", "5GB"),
    ],
)
def test_profile_env_overrides(fake_host, var, value, key, expected):
    fake_host.setenv(var, value)
    assert session.host_profile()[key] == expected


def test_profile_cpus_star_is_the_affinity_count(fake_host):
    fake_host.setenv("SPARK_GRAFT_CPUS", "*")
    prof = session.host_profile()
    assert (prof["cores"], prof["master"]) == (6, "local[6]")


def test_tune_session_sets_every_runtime_conf(spark):
    table = session._runtime_confs(session.host_profile())
    assert len(table) == 10
    other = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.files.maxPartitionBytes": "64m",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "512k",
        "spark.sql.execution.arrow.pyspark.enabled": "false",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "128",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
    }
    assert set(other) == set(table)
    # builder-only confs stay as the session has them
    other["spark.sql.cbo.enabled"] = "false"
    with session.scoped_conf(spark, other):
        session.tune_session(spark)
        for key, val in table.items():
            assert spark.conf.get(key) == val, key
        assert spark.conf.get("spark.sql.cbo.enabled") == "false"


def test_scoped_conf_restores_when_the_body_raises(spark):
    changed = "spark.sql.shuffle.partitions"
    unset = "spark.hmcs.test.scopedConfProbe"  # no code sets this key
    before = spark.conf.get(changed)
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError):
        with session.scoped_conf(spark, {changed: "3", unset: "-1"}):
            assert spark.conf.get(changed) == "3"
            assert spark.conf.get(unset) == "-1"
            raise RuntimeError("body failed")
    assert spark.conf.get(changed) == before
    assert spark.conf.get(unset, None) is None


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_working_set_past_100_classes_compiles_nothing(spark):
    """A working set larger than Spark's default 100-class codegen cache
    compiles once; a second run finds every class cached. The literal
    ``i`` is inlined into the generated code, so each of the 80 frames
    compiles classes of its own (two each on Spark 4.1)."""
    key = "spark.sql.codegen.cache.maxEntries"
    assert session.configure(SparkSession.Builder())._options[key] == "1024"
    assert spark.sparkContext.getConf().get(key) == "1024"

    def working_set():
        for i in range(80):
            frame = spark.range(4).select((F.col("id") * 7919 + i).alias("v"))
            frame.write.format("noop").mode("overwrite").save()

    start = _compiles(spark)
    working_set()
    cold = _compiles(spark) - start
    working_set()
    warm = _compiles(spark) - start - cold
    assert cold > 100
    assert warm == 0
