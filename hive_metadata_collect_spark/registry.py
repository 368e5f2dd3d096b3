"""Operator registry: the single source of truth binding each
SURVEY.md §2 operator name to (a) its PySpark implementation and
(b) its DuckDB oracle SQL.

``__spark_entry__.py`` is a thin adapter over this module.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from weakref import WeakKeyDictionary
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_OPS: dict[str, "Op"] = {}
_LOADED = False

# Every module that registers operators. Imported once by load_all().
_OP_MODULES = [
    "hive_metadata_collect_spark.operators.scans",
    "hive_metadata_collect_spark.operators.filters",
    "hive_metadata_collect_spark.operators.joins",
    "hive_metadata_collect_spark.operators.aggregates",
    "hive_metadata_collect_spark.operators.windows",
    "hive_metadata_collect_spark.operators.setops",
    "hive_metadata_collect_spark.operators.composites",
    "hive_metadata_collect_spark.functions.scalar",
    "hive_metadata_collect_spark.streaming.batch_eq",
    "hive_metadata_collect_spark.catalog.stats",
    "hive_metadata_collect_spark.catalog.lineage",
    "hive_metadata_collect_spark.catalog.partitions",
    "hive_metadata_collect_spark.catalog.usage",
    "hive_metadata_collect_spark.catalog.iceberg",
    "hive_metadata_collect_spark.llm.udfs",
    "hive_metadata_collect_spark.llm.dedup",
    "hive_metadata_collect_spark.llm.similarity",
    "hive_metadata_collect_spark.llm.text",
    "hive_metadata_collect_spark.llm.multimodal",
    "hive_metadata_collect_spark.sources.pydatasource",
    "hive_metadata_collect_spark.sources.connectors",
]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver's rows-only check
    survey_row: int  # SURVEY.md §2 operator number


def register(name: str, oracle: str | None = None, survey_row: int = 0):
    """Decorator registering an operator. ``oracle`` must alias every
    computed column identically to the Spark side (driver hash sorts
    columns by name)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _OPS:
            raise ValueError(f"duplicate operator {name!r}")
        _OPS[name] = Op(name=name, fn=fn, oracle=oracle, survey_row=survey_row)
        return fn

    return deco


def load_all() -> dict[str, Op]:
    global _LOADED
    if not _LOADED:
        for mod in _OP_MODULES:
            importlib.import_module(mod)
        _LOADED = True
    return _OPS


# The driver's CORRECTNESS check samples the FIRST 50 entries of
# ``queries()`` (dict insertion order). The front of the ordering is
# rotated to operators the driver has not hashed before, so driver-side
# confirmation sweeps the whole inventory over successive runs. The 50
# below were all never driver-sampled when chosen: every mm_* (the
# binary decode/mapInPandas family), every remaining dedup_* (incl. the
# minhash-LSH bound contract), every remaining stream_*, and 26 cat_*
# spanning each catalog subfamily (quality/anomaly gates, lineage_2hop
# and attribution_linear, both Iceberg manifest ops, partition/layout
# planning, usage analytics). Every name carries a full DuckDB oracle.
# Earlier lists are in git history; remaining operators follow in
# registration order.
#
_SAMPLE_ORDER = [
    # mm_* — the mapInPandas binary-decode family, never hashed
    # driver-side (11)
    "mm_doc_embedding_join",
    "mm_binary_features",
    "mm_frame_sample",
    "mm_resize_plan",
    "mm_image_dims",
    "mm_phash_neardup",
    "mm_audio_silence_segments",
    "mm_image_channel_stats",
    "mm_image_aspect_bucket",
    "mm_av_sync_check",
    "mm_image_histogram",
    # dedup_* — every remaining never-sampled dedup op (7)
    "dedup_fingerprint",
    "dedup_near_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_exact_keep_best",
    "dedup_paragraph",
    "dedup_url_canonical",
    "dedup_prefix",
    # stream_* — every remaining never-sampled streaming twin (6)
    "stream_sliding_counts",
    "stream_stateful_running",
    "stream_static_join",
    "stream_threshold_alerts",
    "stream_state_size_estimate",
    "stream_sink_python_datasource",
    # cat_* — 26 spanning every catalog subfamily: quality gates,
    # lineage/attribution, both Iceberg manifest ops, partition/layout
    # planning, and usage analytics
    "cat_quality_observe",
    "cat_anomaly_zscore",
    "cat_key_uniqueness",
    "cat_snapshot_diff",
    "cat_referential_integrity",
    "cat_pii_column_scan",
    "cat_semantic_type_infer",
    "cat_schema_inventory",
    "cat_column_histogram",
    "cat_duplicate_table_detect",
    "cat_lineage_2hop",
    "cat_attribution_linear",
    "cat_iceberg_manifest_prune",
    "cat_iceberg_live_reconcile",
    "cat_partition_listing",
    "cat_partition_skew_report",
    "cat_parquet_footer_stats",
    "cat_compaction_plan",
    "cat_orphan_files",
    "cat_scd2_diff",
    "cat_merkle_table_root",
    "cat_markov_transitions",
    "cat_retention_cohort",
    "cat_survival_curve",
    "cat_rfm_segments",
    "cat_decayed_heat",
]


def _ordered() -> dict[str, Op]:
    ops = load_all()
    front = {name: ops[name] for name in _SAMPLE_ORDER if name in ops}
    rest = {name: op for name, op in ops.items() if name not in front}
    return {**front, **rest}


def queries() -> dict[str, QueryFn]:
    return {name: op.fn for name, op in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: op.oracle for name, op in _ordered().items() if op.oracle is not None
    }


# Prepared-query cache — the plan-level analog of the relation cache in
# sources/fixtures.py. DataFrames are immutable and the fixture dirs
# read-only, so the frame an operator builds for a (session, name,
# sf_dir) triple can be built ONCE and re-executed; rebuilding it per
# call repeats the Python-side DAG construction + Catalyst analysis,
# measured at 50–270 ms per headline query on local[32] — pure driver
# overhead a served/prepared query does not pay. Keyed weakly on the
# session so stopped sessions don't pin frames.
_FRAME_CACHE: "WeakKeyDictionary" = WeakKeyDictionary()

def build_frame(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Build the operator's DataFrame fresh (no cache) — the
    cold-protocol path."""
    return load_all()[name].fn(spark, sf_dir)


def prepared_frame(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Return the operator's DataFrame, building it at most once per
    (session, name, sf_dir) — the prepared-statement form of the
    registry. Execution still happens fresh on every action."""
    cache = _FRAME_CACHE.setdefault(spark, {})
    key = (name, sf_dir)
    if key not in cache:
        cache[key] = build_frame(spark, name, sf_dir)
    return cache[key]
