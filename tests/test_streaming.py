"""Smoke tests for the Structured Streaming forms (SURVEY.md §5.3c):
each runs over the fixture events with an availableNow trigger; where
the output mode emits complete per-key results they are cross-checked
against the DuckDB-hashed batch equivalents.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from hive_metadata_collect_spark.streaming import streams


@pytest.fixture()
def checkpoint():
    d = tempfile.mkdtemp(prefix="hmcs_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run(spark, sdf, name, checkpoint, mode="update"):
    return streams.run_available_now(sdf, name, checkpoint, output_mode=mode)


def test_stream_tumbling_counts(spark, sf_dir, checkpoint):
    out = _run(spark, streams.tumbling_counts(spark, sf_dir), "t_tumbling", checkpoint)
    rows = out.collect()
    assert len(rows) > 0
    # cross-check totals vs batch twin (update mode emits every key
    # once here: single input batch)
    from hive_metadata_collect_spark.streaming.batch_eq import stream_tumbling_counts

    batch = stream_tumbling_counts(spark, sf_dir)
    assert out.count() == batch.count()
    assert (
        out.agg({"n_events": "sum"}).collect()[0][0]
        == batch.agg({"n_events": "sum"}).collect()[0][0]
    )


def test_stream_sliding_counts(spark, sf_dir, checkpoint):
    out = _run(spark, streams.sliding_counts(spark, sf_dir), "t_sliding", checkpoint)
    assert out.count() > 0


def test_stream_session_windows(spark, sf_dir, checkpoint):
    # session-window aggregation only supports append/complete output
    out = _run(
        spark,
        streams.session_windows(spark, sf_dir),
        "t_sessions",
        checkpoint,
        mode="complete",
    )
    assert out.count() > 0


def test_stream_dedup_keys(spark, sf_dir, checkpoint):
    out = _run(
        spark, streams.dedup_keys(spark, sf_dir), "t_dedup", checkpoint, mode="append"
    )
    n = out.count()
    from hive_metadata_collect_spark.streaming.batch_eq import stream_dedup_keys

    # same number of surviving (user, type) keys as the batch twin
    assert n == stream_dedup_keys(spark, sf_dir).count()


def test_stream_watermark_late(spark, sf_dir, checkpoint):
    out = _run(spark, streams.watermark_late(spark, sf_dir), "t_late", checkpoint)
    assert out.count() > 0


def test_stream_stateful_running(spark, sf_dir, checkpoint):
    out = _run(spark, streams.stateful_running(spark, sf_dir), "t_stateful", checkpoint)
    rows = {r["user_id"]: r["running_count"] for r in out.collect()}
    assert len(rows) > 0
    from hive_metadata_collect_spark.sources.fixtures import load_table

    ev = load_table(spark, sf_dir, "events")
    expected = {
        r["user_id"]: r["n"] for r in ev.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert rows == expected


def test_stream_stateful_running_tws(spark, sf_dir, checkpoint):
    """Spark-4 transformWithStateInPandas form: same totals as the
    batch running count. Requires protobuf (TWS state-server
    protocol); skipped where absent."""
    pytest.importorskip("google.protobuf")
    from hive_metadata_collect_spark.streaming.streams import (
        run_available_now,
        stateful_running_tws,
    )

    sdf = stateful_running_tws(spark, sf_dir)
    out = run_available_now(sdf, "tws_running", checkpoint)
    totals = {
        r["user_id"]: r["running_count"]
        for r in out.groupBy("user_id")
        .agg(F.max("running_count").alias("running_count"))
        .collect()
    }
    from hive_metadata_collect_spark.sources.fixtures import load_table

    expected = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert totals == expected


def test_foreach_batch_sink(spark, sf_dir, checkpoint):
    """foreachBatch drains every micro-batch exactly once: collected
    row total equals the source count."""
    from hive_metadata_collect_spark.sources.fixtures import load_table
    from hive_metadata_collect_spark.streaming.streams import (
        events_stream,
        run_foreach_batch,
    )

    seen = {}

    def sink(batch_df, batch_id):
        seen[batch_id] = batch_df.count()

    run_foreach_batch(events_stream(spark, sf_dir), checkpoint, sink)
    assert sum(seen.values()) == load_table(spark, sf_dir, "events").count()


def test_static_join_stream_matches_batch(spark, sf_dir, checkpoint):
    """Stream-static join totals equal the batch-equivalent's."""
    from hive_metadata_collect_spark import registry
    from hive_metadata_collect_spark.streaming.streams import static_join_stream

    ops = registry.load_all()
    sdf = static_join_stream(spark, sf_dir)
    q = (
        sdf.writeStream.format("memory")
        .queryName("static_join_smoke")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_type"], r["tier"]): (r["n_events"], r["weighted_value"])
        for r in spark.sql("SELECT * FROM static_join_smoke").collect()
    }
    want = {
        (r["event_type"], r["tier"]): (r["n_events"], r["weighted_value"])
        for r in ops["stream_static_join"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, sf_dir, checkpoint):
    """Dual-watermark stream-stream join drains to exactly the
    batch-equivalent's row set (no row lost to eviction in a bounded
    replay, none duplicated)."""
    from hive_metadata_collect_spark import registry
    from hive_metadata_collect_spark.streaming.streams import (
        stream_stream_join_stream,
    )

    ops = registry.load_all()
    q = (
        stream_stream_join_stream(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("ss_join_smoke")
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM ss_join_smoke").collect()
    }
    want = {
        tuple(r) for r in ops["stream_stream_join"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_rate_source_live_microbatches(spark, checkpoint):
    """A genuinely unbounded source (rate), not file-replay: run a
    windowed count over live micro-batches and stop — proves the
    engine's streaming path works against a source that never ends,
    which availableNow file-replay can't show."""
    sdf = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .withWatermark("timestamp", "1 second")
        .groupBy(F.window("timestamp", "1 second"), (F.col("value") % 5).alias("k"))
        .count()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("rate_counts")
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        deadline = __import__("time").time() + 30
        rows = 0
        # No processAllAvailable(): on a source that never ends it only
        # returns once a batch finishes before the next offset appears,
        # which a batch slower than the rate source's 1 s step never does.
        while __import__("time").time() < deadline:
            rows = spark.sql("SELECT count(*) AS n FROM rate_counts").collect()[0]["n"]
            if rows > 0 and q.lastProgress and q.lastProgress["batchId"] >= 2:
                break
            __import__("time").sleep(0.5)
        assert rows > 0, "no rows after 30s of rate-source micro-batches"
        assert q.lastProgress["batchId"] >= 1
    finally:
        q.stop()


def test_checkpoint_recovery_no_duplicates(spark, sf_dir, checkpoint, tmp_path):
    """Exactly-once across restart: run half the input, stop, append
    the other half, restart from the SAME checkpoint — the final
    per-key counts must equal the batch counts over the full input
    (no double counting of the first half)."""
    import shutil

    from hive_metadata_collect_spark.sources.fixtures import load_table

    src_dir = str(tmp_path / "incoming")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.mode("overwrite").parquet(src_dir)

    def start():
        sdf = (
            spark.readStream.schema(ev.schema)
            .parquet(src_dir)
            .groupBy("event_type")
            .count()
        )
        return (
            sdf.writeStream.format("memory")
            .queryName("ckpt_counts")
            .outputMode("complete")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(120)
    # append the second half, restart from the same checkpoint
    second.write.mode("append").parquet(src_dir)
    q = start()
    q.awaitTermination(120)
    got = {
        r["event_type"]: r["count"]
        for r in spark.sql("SELECT * FROM ckpt_counts").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want, f"restart broke exactly-once: {got} != {want}"
    shutil.rmtree(src_dir, ignore_errors=True)


def test_python_datasource_stream_matches_batch(spark, checkpoint):
    """The custom Python Data Source's streaming reader must deliver
    exactly the batch reader's rows across availableNow micro-batches
    (offset watermarks advance 25 rows per batch, 4 batches total)."""
    from hive_metadata_collect_spark.sources.pydatasource import (
        MetastoreSource,
    )

    spark.dataSource.register(MetastoreSource)
    batch = {tuple(r) for r in spark.read.format("hmcs_metastore").load().collect()}
    sdf = spark.readStream.format("hmcs_metastore").load()
    q = (
        sdf.writeStream.format("memory")
        .queryName("hmcs_meta_stream")
        .option("checkpointLocation", checkpoint)
        .start()
    )
    # the source is finite (offset stops advancing at tbl_id=100), so
    # processAllAvailable drains exactly the four 25-row micro-batches
    q.processAllAvailable()
    q.stop()
    streamed = {
        tuple(r) for r in spark.sql("SELECT * FROM hmcs_meta_stream").collect()
    }
    assert streamed == batch
    assert len(streamed) == 100


def test_report_sink_abort_leaves_committed_data_intact(spark, sf_dir, tmp_path):
    """Two-phase commit: a FAILED save() must not corrupt the store —
    the manifest still lists only generation 1, the failed attempt's
    rows are invisible, and any staged orphans are gone from the
    manifest's view."""
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from hive_metadata_collect_spark.sources.pydatasource import (
        ReportSink,
        read_report_sink,
    )
    from hive_metadata_collect_spark.sources.fixtures import load_table

    spark.dataSource.register(ReportSink)
    target = str(tmp_path / "report_sink")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n.write.format("hmcs_report_sink").mode("overwrite").option(
        "path", target
    ).save()

    @F.udf(returnType=IntegerType())
    def boom(x):
        raise RuntimeError("mid-write failure")

    try:
        n.withColumn("n_nationkey", boom("n_nationkey")).write.format(
            "hmcs_report_sink"
        ).mode("append").option("path", target).save()
        raise AssertionError("save() should have failed")
    except Exception:
        pass

    with open(os.path.join(target, "_manifest.json")) as f:
        entries = json.load(f)
    assert {e["gen"] for e in entries} == {1}, entries
    back = read_report_sink(spark, target)
    assert back.count() == n.count()
    assert back.agg(F.max("gen")).collect()[0][0] == 1


def test_report_sink_overwrite_resets_generations(spark, sf_dir, tmp_path):
    """mode("overwrite") starts the manifest over: a third write in
    overwrite mode leaves a single-generation store."""
    from pyspark.sql import functions as F

    from hive_metadata_collect_spark.sources.pydatasource import (
        ReportSink,
        read_report_sink,
    )
    from hive_metadata_collect_spark.sources.fixtures import load_table

    spark.dataSource.register(ReportSink)
    target = str(tmp_path / "report_sink_ow")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    for mode in ("overwrite", "append", "overwrite"):
        n.write.format("hmcs_report_sink").mode(mode).option(
            "path", target
        ).save()
    back = read_report_sink(spark, target)
    assert back.select("gen").distinct().collect() == [(1,)]
    assert back.count() == n.count()


def test_report_sink_stream_epoch_recommit_is_idempotent(tmp_path):
    """A replayed micro-batch (restart after commit-side crash) must
    REPLACE its own generation, never duplicate it: committing epoch
    batchId=1 twice leaves exactly one gen-2 entry set."""
    import json
    import os

    from hive_metadata_collect_spark.sources.pydatasource import (
        ReportSinkStreamWriter,
        _StagedFile,
    )

    target = str(tmp_path / "stream_sink")
    os.makedirs(target)
    w = ReportSinkStreamWriter(target)
    w.commit([_StagedFile(path="a.parquet", rows=5)], batchId=0)
    w.commit([_StagedFile(path="b.parquet", rows=7)], batchId=1)
    w.commit([_StagedFile(path="b2.parquet", rows=7)], batchId=1)  # replay
    with open(os.path.join(target, "_manifest.json")) as f:
        entries = json.load(f)
    assert sorted((e["gen"], e["file"]) for e in entries) == [
        (1, "a.parquet"),
        (2, "b2.parquet"),
    ]


def _split_events_by_time(spark, sf_dir, tmp_path):
    """Split the fixture events at the median ts and write the first
    half to an appendable tmp source dir. Returns (src_dir, schema,
    first, second) — the second half is strictly later than the first,
    so after run 1's watermark advances nothing in run 2 arrives late."""
    from hive_metadata_collect_spark.sources.fixtures import load_table

    src_dir = str(tmp_path / "incoming")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    split_ts = (
        ev.orderBy("ts")
        .limit(int(ev.count() // 2))
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    del mid
    first = ev.filter(F.col("ts") <= F.lit(split_ts))
    second = ev.filter(F.col("ts") > F.lit(split_ts))
    first.write.mode("overwrite").parquet(src_dir)
    return src_dir, ev.schema, first, second


def test_stateful_running_restart_recovers_counter(
    spark, sf_dir, checkpoint, tmp_path
):
    """Checkpoint-restart recovery for the applyInPandasWithState
    counter: run half the input, stop, append the rest, restart from the
    SAME checkpoint. Every user updated in run 2 must report a
    running_count equal to the BATCH count over the full input — if the
    state store were lost on restart the counter would restart from the
    second half alone. The memory sink cannot recover a checkpoint, so
    each run lands through foreachBatch into a parquet dir (the
    idempotent-sink pattern of run_foreach_batch)."""
    src_dir, schema, first, second = _split_events_by_time(
        spark, sf_dir, tmp_path
    )
    out_dir = str(tmp_path / "out_counter")

    def start():
        ev = spark.readStream.schema(schema).parquet(src_dir)
        streams.run_foreach_batch(
            streams.stateful_running_on(ev),
            checkpoint,
            lambda batch_df, batch_id: batch_df.write.mode("append").parquet(
                out_dir
            ),
        )

    start()
    run1_users = {
        r["user_id"] for r in spark.read.parquet(out_dir).collect()
    }
    second.write.mode("append").parquet(src_dir)
    start()
    got = {
        r["user_id"]: r["running_count"]
        for r in spark.read.parquet(out_dir)
        .groupBy("user_id")
        .agg(F.max("running_count").alias("running_count"))
        .collect()
    }
    full = {
        r["user_id"]: r["n"]
        for r in first.unionAll(second)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    second_only = {
        r["user_id"]: r["n"]
        for r in second.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got, "nothing was emitted"
    for u, n in got.items():
        assert n == full[u], f"user {u}: running_count {n} != batch {full[u]}"
    # the assertion above is vacuous unless some run-1 user recurs in
    # run 2 (its restored counter must have kept counting)
    assert any(
        u in run1_users and full[u] > second_only.get(u, 0) for u in got
    ), "no user spanned the restart boundary — test split is broken"


def test_dedup_keys_restart_no_reemission(spark, sf_dir, checkpoint, tmp_path):
    """Checkpoint-restart recovery for dropDuplicatesWithinWatermark
    with a delay horizon longer than the fixture's time span (so no key
    ever expires), the cumulative file-sink output of both runs must
    carry each (user_id, event_type) exactly once and cover exactly the
    batch-distinct key set. A lost state store would re-emit every
    first-half key that reappears in the second half. The parquet sink
    IS checkpoint-recoverable (unlike memory)."""
    src_dir, schema, first, second = _split_events_by_time(
        spark, sf_dir, tmp_path
    )
    out_dir = str(tmp_path / "out_dedup")

    def start():
        ev = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            streams.dedup_keys_on(ev, delay="3650 days")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    start()
    r1 = {
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(out_dir)
        .select("user_id", "event_type")
        .collect()
    }
    second.write.mode("append").parquet(src_dir)
    start()
    emitted = [
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(out_dir)
        .select("user_id", "event_type")
        .collect()
    ]
    assert len(emitted) == len(set(emitted)), (
        "restart re-emitted keys the first run already deduplicated"
    )
    want = {
        (r["user_id"], r["event_type"])
        for r in first.unionAll(second)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert set(emitted) == want
    # recovery is only proven if the second half actually repeated
    # first-run keys (they must have been suppressed by restored state)
    repeats = {
        (r["user_id"], r["event_type"])
        for r in second.select("user_id", "event_type").distinct().collect()
    } & r1
    assert repeats, "no key recurred across the restart — split is broken"
