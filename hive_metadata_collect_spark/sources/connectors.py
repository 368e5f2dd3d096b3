"""Live connectors for a production deployment — SURVEY.md §2.1.

A Hive-metadata collector's real inputs are (a) the metastore RDBMS
and (b) an audit/query-log stream; its outputs land in a reporting
store. None of these endpoints exist in this offline environment, so
each connector validates its arguments eagerly and defers the network
touch to Spark's own datasource (jdbc/kafka) — the operator surface
is identical on a cluster.

Scale notes: JDBC reads MUST be partitioned (partitionColumn/bounds/
numPartitions) or the whole table funnels through one task; Kafka
parallelism follows topic partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.session import (
    build_dir,
    fixture_tag,
    scratch_dir,
    stage_once,
)

# The public Hive metastore schema tables a collector reads
# (Apache Hive metastore DDL — public knowledge; SURVEY.md §1.1).
METASTORE_TABLES = [
    "DBS",
    "TBLS",
    "SDS",
    "COLUMNS_V2",
    "PARTITIONS",
    "PARTITION_KEYS",
    "PARTITION_KEY_VALS",
    "TABLE_PARAMS",
    "PARTITION_PARAMS",
    "SERDES",
    "SERDE_PARAMS",
]


def read_metastore_table(
    spark: SparkSession,
    jdbc_url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 16,
    **options: str,
) -> DataFrame:
    """Read one Hive-metastore table over JDBC as a DataFrame.

    Example (live cluster):
        read_metastore_table(spark, "jdbc:mysql://ms:3306/hive", "TBLS",
                             partition_column="TBL_ID",
                             lower_bound=0, upper_bound=10_000_000)
    """
    if table not in METASTORE_TABLES:
        raise KeyError(f"not a Hive metastore table: {table!r}")
    reader = (
        spark.read.format("jdbc")
        .option("url", jdbc_url)
        .option("dbtable", table)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_audit_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Audit/query-log stream from Kafka (value = JSON event payload);
    pipe into streaming/streams.py operators after from_json."""
    if not bootstrap_servers or not topic:
        raise ValueError("bootstrap_servers and topic are required")
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def write_report(
    df: DataFrame, jdbc_url: str, table: str, mode: str = "append", **options: str
) -> None:
    """Sink a collector result frame to the reporting RDBMS."""
    writer = df.write.format("jdbc").option("url", jdbc_url).option(
        "dbtable", table
    ).mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def _derby_url(spark: SparkSession, sf_dir: str) -> str:
    """JDBC URL of the session's embedded Derby metastore for ``sf_dir``."""
    import os

    path = os.path.join(scratch_dir(spark), f"derby_{fixture_tag(sf_dir)}")
    return f"jdbc:derby:{path};create=true"


@register(
    "src_jdbc_embedded_metastore",
    survey_row=1,
    oracle="""
    SELECT r.r_name AS db_name,
           count(*)::BIGINT AS n_tables,
           min(n.n_name) AS first_table,
           max(n.n_name) AS last_table
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def src_jdbc_embedded_metastore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JDBC metastore round-trip, offline: the partitioned-read
    connector above exercised end-to-end against an EMBEDDED Apache
    Derby database (the Derby jars ship inside every Spark
    distribution — the same engine Spark's own Hive support embeds),
    so the codepath a production deployment points at MySQL/Postgres
    is executed, not stubbed: JDBC table CREATE via df.write.jdbc
    (explicit VARCHAR DDL — Derby's default String mapping is CLOB,
    which no metastore schema uses), then a 4-way PARTITIONED
    spark.read.jdbc on TBL_ID (the predicate-striped parallel read
    that keeps a 10M-row TBLS from funneling through one task), a
    broadcast-sized DBS lookup, and the DB-level rollup.

    The seeded content derives from the nation/region fixtures
    (nation rows as TBLS, regions as DBS), so the DuckDB oracle
    recomputes the expected result from the SAME parquet inputs
    without needing to read Derby — the hash gate covers the whole
    write→read→join→agg loop. The Derby database lives in the
    session's scratch dir (embedded Derby is single-process by design;
    a second session seeds its own copy deterministically) and is
    removed with it on ``spark.stop()``."""
    url = _derby_url(spark, sf_dir)
    from hive_metadata_collect_spark.sources.fixtures import load_table

    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("TBL_ID"),
        F.col("n_name").alias("TBL_NAME"),
        F.col("n_regionkey").alias("DB_ID"),
    )
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("DB_ID"),
        F.col("r_name").alias("NAME"),
    )
    (
        nation.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "TBLS")
        .option("createTableColumnTypes", "TBL_NAME VARCHAR(128)")
        .mode("overwrite")
        .save()
    )
    (
        region.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "DBS")
        .option("createTableColumnTypes", "NAME VARCHAR(128)")
        .mode("overwrite")
        .save()
    )
    tbls = read_metastore_table(
        spark,
        url,
        "TBLS",
        partition_column="TBL_ID",
        lower_bound=0,
        upper_bound=32,
        num_partitions=4,
    )
    dbs = read_metastore_table(spark, url, "DBS").select(
        "DB_ID", F.col("NAME").alias("db_name")
    )
    return (
        tbls.join(dbs, "DB_ID")
        .groupBy("db_name")
        .agg(
            F.count(F.lit(1)).alias("n_tables"),
            F.min("TBL_NAME").alias("first_table"),
            F.max("TBL_NAME").alias("last_table"),
        )
    )


_KAFKA_QUERY_SEQ = [0]


@register(
    "src_kafka_shaped_feed",
    survey_row=1,
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*)::BIGINT AS n_events,
           round(sum(CAST(value AS DECIMAL(12,2))), 2)::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def src_kafka_shaped_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka audit-stream path, DE-STUBBED OFFLINE (the Derby
    recipe applied to the stream side): `read_audit_stream` above can only hand back
    `.format("kafka")` unexecuted in this sandbox, but everything a
    deployment runs DOWNSTREAM of the Kafka source — the
    binary-value JSON decode, the event-time windowed aggregation,
    the incremental availableNow execution with a checkpoint — is
    executed for real here. The feed is materialized once per
    (session, fixture) with the EXACT Kafka source schema (key/value
    BINARY, topic, partition, offset, timestamp, timestampType — the
    seven columns `.format("kafka").load()` yields), value = the
    JSON event payload; a file-source stream over it is
    byte-compatible with the broker-fed frame, so the decode +
    window + sink pipeline is the production code path verbatim.
    The DuckDB oracle recomputes the same hourly rollup from the
    SAME events fixture the feed was derived from, so the hash gate
    covers serialize → stream → decode → window → sink end-to-end.
    Scale: Kafka parallelism follows topic partitions (the feed
    carries pmod(event_id, 8) partitions); the rollup is the
    stream_tumbling_counts shape — watermarked hash agg, state
    bounded by open windows.

    Lifecycle: the feed is staged once per session in the session's
    scratch dir (``session.stage_once``: written to a fresh path and
    renamed into place, so no build streams a half-written feed), and
    each run gets its own checkpoint dir there, removed after the
    result is materialized, with the memory-sink temp view dropped
    (localCheckpoint breaks the plan's reference to the sink).
    ``spark.stop()`` removes the feed. sum_value accumulates in int64
    cents inside the streaming agg (events.value is the non-negative
    2-decimal audit-amount domain) with a DECIMAL presentation merge,
    and the oracle casts to DECIMAL(12,2) the same way, so the
    order-dependent double-sum drift class is gone on both sides."""
    import os
    import shutil

    from hive_metadata_collect_spark.operators.numerics import cents
    from hive_metadata_collect_spark.sources.fixtures import load_table
    from hive_metadata_collect_spark.streaming.streams import (
        run_available_now,
    )

    def stage_feed(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.select(
            F.col("event_id").cast("string").cast("binary").alias("key"),
            F.to_json(
                F.struct(
                    "event_id", "ts", "user_id", "event_type", "value",
                    "props",
                )
            ).cast("binary").alias("value"),
            F.lit("audit-events").alias("topic"),
            F.pmod(F.col("event_id"), F.lit(8)).cast("int").alias(
                "partition"
            ),
            F.col("event_id").alias("offset"),
            F.col("ts").alias("timestamp"),
            F.lit(0).cast("int").alias("timestampType"),
        ).write.parquet(path)

    feed_dir = stage_once(
        spark, f"kafka_feed_{fixture_tag(sf_dir)}", stage_feed
    )

    kafka_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int"
    )
    payload = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(kafka_schema).parquet(feed_dir)
    decoded = stream.select(
        F.from_json(F.col("value").cast("string"), payload).alias("e")
    ).select("e.*")
    agg = (
        decoded.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("s_c"),
        )
    )
    _KAFKA_QUERY_SEQ[0] += 1
    name = f"kafka_feed_rollup_{_KAFKA_QUERY_SEQ[0]}"
    ckpt = build_dir(spark)
    out = run_available_now(agg, name, ckpt, output_mode="complete")
    result = out.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        F.round(
            F.col("s_c").cast("decimal(20,0)")
            * F.lit("0.01").cast("decimal(2,2)"),
            2,
        )
        .cast("double")
        .alias("sum_value"),
    ).localCheckpoint(eager=True)  # snapshot before the sink is dropped
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return result
