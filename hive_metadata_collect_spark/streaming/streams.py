"""Structured Streaming forms of SURVEY.md §2.8 (#51–56).

The DuckDB-hashed batch equivalents live in batch_eq.py; these are the
incremental implementations a production deployment runs (file source
here; swap for Kafka via sources/connectors.py). Each is smoke-tested
in tests/test_streaming.py with an availableNow trigger against the
fixture events and, where output mode allows, cross-checked against
its batch twin.

Scale notes: state lives in the RocksDB state store (session.py pins
the provider); watermarks bound state for windows/dedup/sessions.
Shuffle partitioning of streaming state is fixed at first run —
size spark.sql.shuffle.partitions before the first checkpoint.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hive_metadata_collect_spark.sources.fixtures import normalize_ts

# Raw parquet schema; ts dtype varies by fixture vintage (see
# events_stream) so it is filled in per-call, not fixed here.
_RAW_FIELDS_AFTER_TS = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (one-file directory
    glob). The fixture's ts type depends on its parquet vintage, so a
    batch read of the footer sets the stream schema, and
    ``normalize_ts`` gives both vintages the batch source's µs `ts`."""
    ts_type = spark.read.parquet(f"{sf_dir}/events.parquet").schema[
        "ts"
    ].dataType
    schema = StructType(
        [StructField("event_id", LongType()), StructField("ts", ts_type)]
        + list(_RAW_FIELDS_AFTER_TS.fields)
    )
    return normalize_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#51: per-hour × type counts with a 10-minute watermark."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#52: 1h windows sliding every 15 minutes."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#53: per-user sessions, 30-minute inactivity gap."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_keys_on(ev: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """#54 operator body over ANY events stream — source-parameterized
    so the checkpoint-restart tests can drive it from an appendable
    tmp directory."""
    return ev.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#54: keyed dedup within the watermark horizon."""
    return dedup_keys_on(events_stream(spark, sf_dir))


def watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#55: 10-minute watermark dropping late rows from a 1h count."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .select(F.col("window.start").alias("window_start"), "n_kept")
    )


def stateful_running_on(ev: DataFrame) -> DataFrame:
    """#56 operator body over ANY events stream (source-parameterized
    for the checkpoint-restart tests): per-user running event count via
    applyInPandasWithState (a per-key counter in the state store;
    transformWithStateInPandas is the Spark-4 successor with the same
    shape)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("batch_events", LongType()),
            StructField("running_count", LongType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType([StructField("count", LongType())])

    def update(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        prior = state.get[0] if state.exists else 0
        batch = 0
        last_ts = None
        for pdf in pdf_iter:
            batch += len(pdf)
            m = pdf["ts"].max()
            last_ts = m if last_ts is None else max(last_ts, m)
        state.update((prior + batch,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "batch_events": [batch],
                "running_count": [prior + batch],
                "last_ts": [last_ts],
            }
        )

    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#56: the registered fixture-sourced form."""
    return stateful_running_on(events_stream(spark, sf_dir))


def run_available_now(
    sdf: DataFrame, name: str, checkpoint_dir: str, output_mode: str = "update"
) -> DataFrame:
    """Execute a streaming frame to completion over all available
    input (availableNow trigger) into an in-memory sink; returns the
    materialized result as a batch DataFrame."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


def stateful_running_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#56, Spark-4 form: the same per-user running counter as
    stateful_running, but through transformWithStateInPandas — the
    current stateful API (typed value state on a StatefulProcessor
    handle, RocksDB-backed, TTL-capable). Kept alongside the
    applyInPandasWithState form so both state APIs stay exercised.

    Runtime requirement: the TWS state-server protocol needs the
    `protobuf` package in the Python environment (absent in this
    container — the smoke test skips itself; the
    applyInPandasWithState twin is the one exercised here)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "count bigint")

        def handleInputRows(self, key, rows, timerValues):
            prior = self._count.get()[0] if self._count.exists() else 0
            batch = sum(len(pdf) for pdf in rows)
            total = prior + batch
            self._count.update((total,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "batch_events": [batch],
                    "running_count": [total],
                }
            )

        def close(self) -> None:
            pass

    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningCount(),
            outputStructType="user_id bigint, batch_events bigint, running_count bigint",
            outputMode="Update",
            timeMode="None",
        )
    )


def run_foreach_batch(
    sdf: DataFrame,
    checkpoint_dir: str,
    sink: "callable",
) -> None:
    """Production sink pattern: drain a streaming frame through
    foreachBatch — each micro-batch arrives as a plain DataFrame with
    a monotonically increasing batch_id, letting the sink do
    idempotent upserts (write keyed on batch_id; a replayed batch
    overwrites itself instead of duplicating). This is how streaming
    results land in the reporting RDBMS (sources/connectors.py
    write_report) on a live cluster."""
    q = (
        sdf.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def static_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of stream_static_join: the file-source event
    stream joined to the in-memory dim. Stateless — each micro-batch
    broadcast-joins the current dim snapshot; aggregation downstream
    is the stateful part."""
    from hive_metadata_collect_spark.streaming.batch_eq import EVENT_TIERS

    ev = events_stream(spark, sf_dir)
    dim = F.broadcast(
        spark.createDataFrame(EVENT_TIERS, ["event_type", "tier", "weight"])
    )
    return (
        ev.join(dim, "event_type")
        .groupBy("event_type", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted_value"
            ),
        )
    )


def stream_stream_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream-stream join: clicks matched to prior views ≤10 min,
    watermarked on BOTH sides so the state store can evict buffered
    rows — without both watermarks plus a time-bound join condition,
    stream-stream join state grows forever."""
    ev = events_stream(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "10 minutes")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    return v.join(
        c,
        (v["user_id"] == c["c_user"])
        & (c["c_ts"] > v["v_ts"])
        & (c["c_ts"] <= v["v_ts"] + F.expr("INTERVAL 10 MINUTE")),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts")).alias("gap_s"),
    )
