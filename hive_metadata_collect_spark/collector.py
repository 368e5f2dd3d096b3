"""The collector product surface: run the catalog operator family and
PERSIST the metadata artifacts — the analog of a Hive metadata
collector's main() (collect → write inventory tables → optionally diff
against yesterday's snapshot).

Usage (also exposed as ``python -m hive_metadata_collect_spark.collect``):

    from hive_metadata_collect_spark.collector import run_collection
    manifest = run_collection(spark, sf_dir, out_dir)

The artifacts are independent, so they run concurrently: one thread
per host core, all on the caller's SparkSession. Each thread builds its
artifact's frame, writes it and reads the row count from an
``Observation`` attached to that write, so no artifact is read back.
A collection is many small queries, and each one's wall is mostly
fixed per-query latency (frame build, planning, codegen, job launch).
Run one after another, that latency leaves the executors idle; run
side by side, one artifact's planning overlaps another's stages.

Scale notes: each artifact is an independent catalog query whose
output is |catalog|-bounded (tables × columns × partitions × days),
so every write here is small regardless of data scale; the heavy
lifting (counts, heat, lineage) happens inside the already
scale-shaped operators. Concurrent artifacts share the executors
under Spark's default FIFO scheduler: the earliest submitted job gets
every task slot it can use and later jobs take what is left. At scale
a large artifact's scan therefore runs as fast as it would alone, and
the small artifacts fill only the slots it leaves idle. The pool is
sized by the driver's cores because frame build and planning are
driver work. Artifacts are written as parquet snapshot directories so
the NEXT run can diff against them (snapshot_diff) — the
daily-collection loop of a production catalog.
"""

from __future__ import annotations

import os
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.session import host_profile

#: artifact name → registry operator producing it. Every entry is an
#: oracle-gated catalog query (SURVEY.md §2.10).
ARTIFACTS = {
    # inventory, partitions, usage heat and table-level lineage
    "table_stats": "cat_table_stats",
    "schema_inventory": "cat_schema_inventory",
    "metastore_denorm": "cat_metastore_denorm",
    "partition_freshness": "cat_partition_freshness",
    "partition_listing": "cat_partition_listing",
    "table_heat": "cat_table_heat",
    "cold_tables": "cat_cold_tables",
    "lineage_2hop": "cat_lineage_2hop",
    "lineage_closure": "cat_lineage_closure",
    # lineage parsed from SQL text, filesystem size stats and query
    # templates
    "lineage_sql": "cat_lineage_sql",
    "lineage_sql_columns": "cat_lineage_sql_columns",
    "storage_size": "cat_storage_size",
    "query_templates": "cat_query_fingerprint",
    # lakehouse maintenance: table state per log version, data-skipping
    # effectiveness, the compaction work list, incrementally-mergeable
    # table stats, DDL, parquet footer stats and referential integrity
    "tx_log_snapshots": "cat_tx_log_snapshot",
    "manifest_prune_report": "cat_manifest_prune",
    "compaction_plan": "cat_compaction_plan",
    "incremental_stats": "cat_incremental_stats_merge",
    "table_ddl": "cat_table_ddl_generate",
    "footer_stats": "cat_parquet_footer_stats",
    "integrity_report": "cat_referential_integrity",
    # the CI-gate verdict battery (expectations with violation counts)
    # and the FDR-controlled drift page list — the two artifacts a
    # scheduled collection publishes to alerting
    "contract_verdicts": "cat_data_contract_check",
    "drift_rejections": "cat_bh_fdr",
}


def _write_artifact(
    spark: SparkSession, op: registry.Op, sf_dir: str, target: str
) -> int:
    """Build one artifact, write it to ``target`` and return the number
    of rows written, counted by the write itself."""
    obs = Observation()
    df = op.fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.mode("overwrite").parquet(target)
    return obs.get["n"]


def run_collection(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Run every catalog artifact query and write it under
    ``out_dir/<artifact>``; return the collection manifest (one row
    per artifact in ``ARTIFACTS`` order: name, rows written, output
    path).

    The artifacts run concurrently on ``spark``, and each inherits the
    caller's local properties, so the caller's job group and
    description label every job and ``cancelJobGroup`` cancels the
    collection. If an artifact raises, the artifacts not yet started
    are cancelled, the running ones finish, and that artifact's
    original exception is re-raised; if several raised, the first in
    ``ARTIFACTS`` order wins. Artifacts that finished keep their
    written output. No pool thread outlives the call."""
    ops = registry.load_all()
    targets = {a: os.path.join(out_dir, a) for a in ARTIFACTS}
    futures = {}
    pool = ThreadPoolExecutor(
        max_workers=host_profile()["cores"], thread_name_prefix="collector"
    )
    try:
        for artifact, op_name in ARTIFACTS.items():
            # wrapped per artifact: each wrap clones the caller's local
            # properties, and one clone shared by concurrent artifacts
            # would let one artifact's SQL execution id leak into another
            task = inheritable_thread_target(spark)(_write_artifact)
            futures[artifact] = pool.submit(
                task, spark, ops[op_name], sf_dir, targets[artifact]
            )
        wait(futures.values(), return_when=FIRST_EXCEPTION)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    for fut in futures.values():
        if not fut.cancelled() and fut.exception() is not None:
            raise fut.exception()
    rows = [
        (artifact, ARTIFACTS[artifact], fut.result(), targets[artifact])
        for artifact, fut in futures.items()
    ]
    return spark.createDataFrame(
        rows, "artifact string, operator string, n_rows long, path string"
    )


def snapshot_diff(
    spark: SparkSession, prev_dir: str, cur_dir: str, artifact: str, key: str
) -> DataFrame:
    """Change set between two collection snapshots of one artifact:
    full outer join on the artifact key → insert / delete / changed /
    unchanged per row — the incremental-collection step (same shape as
    cat_scd2_diff, applied to the collector's own outputs)."""
    from hive_metadata_collect_spark.catalog.stats import diff_frames

    prev = spark.read.parquet(os.path.join(prev_dir, artifact))
    cur = spark.read.parquet(os.path.join(cur_dir, artifact))
    return diff_frames(prev, cur, key)
