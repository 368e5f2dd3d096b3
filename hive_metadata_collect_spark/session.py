"""SparkSession factory with engine-standard configs.

``host_profile()`` sizes the local session from the host: cores from
the affinity mask, a driver heap of a quarter of MemTotal (at least
1 GiB), two shuffle partitions per core and a DuckDB cap equal to the
heap. SPARK_GRAFT_CPUS (``*`` = all), _DRIVER_MEM, _SHUFFLE and
_DUCK_MEM override them.

Scratch rule: an operator that writes files puts them under
``scratch_dir(spark)``, one directory per SparkContext inside Spark's
own driver dir (``SparkFiles.getRootDirectory()``, created under
``spark.local.dir``). Spark deletes it on ``spark.stop()``, so no
operator file outlives its session. A build writes into a fresh
``build_dir(spark)``, so a rebuild never deletes files that an earlier
frame still reads; data reused within a session is staged once by
``stage_once``.

Scale notes (the configs that matter at 100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing, broadcast-join
  conversion from runtime stats, skew-join splitting.
- ``spark.sql.shuffle.partitions`` is sized from the local cores here;
  at cluster scale leave it high (e.g. 2000+) and let AQE coalesce.
- The driver heap is per-host here; a cluster sizes executors instead
  (~1g per executor thread).
- Arrow on: every pandas-UDF / toPandas crossing is columnar-batched.
- Session timezone pinned to UTC: fixture timestamps are naive and the
  DuckDB oracle treats them as UTC (FIXTURES.md "Harness notes").
- The scratch dir is driver-local, which only works while the executors
  share the driver's filesystem (local mode). On a cluster it must
  become a per-application directory on the shared filesystem, as a
  repo-root scratch dir would have had to as well.
"""

from __future__ import annotations

import hashlib
import os
import re
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def mem_total_kb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        return next(
            int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
        )


def host_profile() -> dict:
    """Cores, master, driver heap, shuffle partitions and DuckDB cap of
    this host, each overridable by its SPARK_GRAFT_* variable."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    cores = len(os.sched_getaffinity(0)) if cpus == "*" else int(cpus)
    heap_gb = max(1, mem_total_kb() // (4 << 20))
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_gb}g"),
        "shuffle_partitions": int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", 2 * cores)
        ),
        "duck_mem": os.environ.get("SPARK_GRAFT_DUCK_MEM", f"{heap_gb}GB"),
    }


def _runtime_confs(profile: dict) -> dict[str, str]:
    """The runtime-settable SQL confs: ``configure`` puts them on a
    builder, ``tune_session`` on a session someone else built."""
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(profile["shuffle_partitions"]),
        # Local-mode profile: split single-file fixtures into enough
        # scan tasks to feed all cores (measured best at sf0.1; a real
        # cluster keeps the 128m default and parallelism comes from
        # the partitioned table layout instead).
        "spark.sql.files.maxPartitionBytes": "32m",
        # Local-mode profile: AQE coalescing with parallelismFirst
        # respects minPartitionSize (default 1m), which collapses the
        # few-MB fixture shuffles to 1-2 partitions and serializes
        # window/sort stages on a single core. 256k re-spreads them
        # (measured: session/funnel/window/star queries −30..50% at
        # sf0.1). A real cluster keeps the 1m default — its shuffles
        # are orders of magnitude past either bound.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # TypedImperative aggregates (sketches, collect_*) run under
        # ObjectHashAggregateExec, which silently falls back to
        # SORT-BASED aggregation past 128 distinct keys — an
        # input-wide external sort where a hash map of a few hundred
        # buffers would do. 64k keys, well inside an executor;
        # cluster-size to taste, the default is tuned for tiny-state
        # sketches only. (Spark 4's bitmap_construct_agg is NOT saved
        # by this — its binary buffer plans as SortAggregate outright,
        # which is why agg_count_distinct uses bit_or word bitmaps.)
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "65536",
        # events.ts ships as parquet TIMESTAMP(NANOS), which Spark's
        # reader rejects unless read as a raw long; fixtures.normalize_ts
        # turns that long into µs.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }


# Set at build time only: a session built elsewhere keeps its own.
_BUILDER_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.ui.enabled": "false",
    # No [Stage N] console progress bars: bench.py's caller parses its
    # LAST output line as JSON, and progress bars trailing that line
    # break the parse.
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


def get_spark(app_name: str = "hive-metadata-collect-spark") -> SparkSession:
    return configure(SparkSession.builder.appName(app_name)).getOrCreate()


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the host profile and engine-standard configs to any
    SparkSession builder. The driver heap only takes effect before the
    JVM launches."""
    profile = host_profile()
    return (
        builder.master(profile["master"])
        .config("spark.driver.memory", profile["driver_mem"])
        .config(map={**_runtime_confs(profile), **_BUILDER_CONFS})
    )


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine configs to an externally
    created session (the driver harness owns its own SparkSession;
    ``queries()`` callables go through here). Besides the UTC pin, a
    plain session's 200 shuffle partitions make the suite ~3× slower
    than at 32 even with AQE coalescing (measured local[8], sf0.01);
    on a real cluster the driver-set value stays high and AQE
    coalesces."""
    for key, val in _runtime_confs(host_profile()).items():
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # non-runtime-settable on some builds; harmless
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body, then put every key back as it was
    (unset if it was unset), also when the body raises."""
    saved = {key: spark.conf.get(key, None) for key in confs}
    for key, val in confs.items():
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def scratch_dir(spark: SparkSession) -> str:
    """This SparkContext's scratch directory, removed with Spark's own
    driver dir on ``spark.stop()``."""
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    path = os.path.join(root, "hmcs")
    os.makedirs(path, exist_ok=True)
    return path


def build_dir(spark: SparkSession) -> str:
    """A fresh directory for the files of one frame build."""
    return tempfile.mkdtemp(dir=scratch_dir(spark))


def fixture_tag(sf_dir: str) -> str:
    """Identifier-safe key of a fixture dir for staged data and table
    names: its basename plus a short hash of its resolved path, so two
    dirs with the same name never share a staged copy."""
    base = re.sub(r"\W", "_", os.path.basename(sf_dir.rstrip("/")))
    digest = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:8]
    return f"{base}_{digest}"


def stage_once(spark: SparkSession, name: str, write: Callable[[str], None]) -> str:
    """Path of ``name``, staged once per session: ``write`` fills a
    fresh path that is then renamed into place, so a build that fails
    part-way never leaves a half-written ``name`` for a later build."""
    target = os.path.join(scratch_dir(spark), name)
    if not os.path.isdir(target):
        tmp = os.path.join(build_dir(spark), name)
        write(tmp)
        try:
            os.rename(tmp, target)
        except OSError:  # a concurrent build renamed first: use theirs
            if not os.path.isdir(target):
                raise
    return target
