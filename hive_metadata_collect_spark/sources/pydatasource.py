"""Spark 4 Python Data Source API demo — a custom PARTITIONED source
serving deterministic Hive-metastore-shaped rows (`DBS`/`TBLS`
denormalized), the live-path surface a metadata collector reads in
production (there via JDBC; here via the new-in-Spark-4
`pyspark.sql.datasource` API so the connector pattern itself is
exercised and testable offline).

Scale notes: `partitions()` is the datasource's parallelism contract —
each InputPartition becomes one Spark task reading an independent key
range (exactly how a JDBC `partitionColumn/lowerBound/upperBound` read
shards the metastore). The generator yields plain tuples; Arrow
batching happens in the executor shim.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.session import build_dir

#: deterministic catalog shape: 4 read partitions × 25 tables
_N_PARTS = 4
_TBLS_PER_PART = 25
_EPOCH = datetime.datetime(2024, 1, 1)

_SCHEMA = (
    "tbl_id int, db_name string, tbl_name string, owner string, "
    "tbl_type string, create_time timestamp"
)


class MetastoreSource(DataSource):
    """`format("hmcs_metastore")` — deterministic TBLS⋈DBS rows."""

    @classmethod
    def name(cls) -> str:
        return "hmcs_metastore"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> "MetastoreReader":
        return MetastoreReader()

    def simpleStreamReader(self, schema) -> "MetastoreStreamReader":
        return MetastoreStreamReader()


class MetastoreReader(DataSourceReader):
    def partitions(self):
        # one task per key range — the JDBC partitionColumn pattern
        return [InputPartition(i) for i in range(_N_PARTS)]

    def read(self, partition):
        base = partition.value * _TBLS_PER_PART
        for j in range(_TBLS_PER_PART):
            tbl_id = base + j
            yield (
                tbl_id,
                f"db_{tbl_id % 10}",
                f"tbl_{tbl_id}",
                f"owner_{tbl_id % 7}",
                "MANAGED_TABLE" if tbl_id % 5 else "EXTERNAL_TABLE",
                _EPOCH + datetime.timedelta(days=tbl_id),
            )


@register(
    "src_python_datasource",
    survey_row=75,
    oracle="""
    WITH t AS (
        SELECT i AS tbl_id,
               'db_' || (i % 10) AS db_name,
               'owner_' || (i % 7) AS owner,
               CASE WHEN i % 5 = 0 THEN 'EXTERNAL_TABLE'
                    ELSE 'MANAGED_TABLE' END AS tbl_type,
               TIMESTAMP '2024-01-01' + INTERVAL (i) DAY AS create_time
        FROM unnest(range(100)) AS u(i)
    )
    SELECT db_name,
           count(*)::BIGINT AS n_tables,
           count(DISTINCT owner)::BIGINT AS n_owners,
           sum(CASE WHEN tbl_type = 'EXTERNAL_TABLE' THEN 1 ELSE 0 END)::BIGINT
               AS n_external,
           max(create_time) AS newest_table
    FROM t
    GROUP BY db_name
    """,
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the custom Python Data Source (Spark 4 API) and
    roll the metastore rows up per database — the collector's
    inventory query running against a CONNECTOR instead of parquet.
    The source reports 4 input partitions, so the scan runs as 4
    parallel tasks (the JDBC key-range sharding pattern); the oracle
    regenerates the same deterministic rows relationally. sf_dir is
    unused: the source IS the data (a live connector has no fixture
    directory), which is exactly what the API demonstrates."""
    spark.dataSource.register(MetastoreSource)
    t = spark.read.format("hmcs_metastore").load()
    return t.groupBy("db_name").agg(
        F.count(F.lit(1)).alias("n_tables"),
        F.countDistinct("owner").alias("n_owners"),
        F.sum(
            F.when(F.col("tbl_type") == "EXTERNAL_TABLE", 1).otherwise(0)
        ).alias("n_external"),
        F.max("create_time").alias("newest_table"),
    )


class MetastoreStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the connector: the audit-log tail a collector
    ingests incrementally. Offsets are plain dicts ({"tbl_id": n} —
    the high-watermark pattern of any CDC/JDBC incremental pull);
    each micro-batch serves the rows between two watermarks. Spark
    checkpoints the offset, so restarts resume exactly where the
    previous run stopped (exercised in tests/test_streaming.py)."""

    def initialOffset(self) -> dict:
        return {"tbl_id": 0}

    def read(self, start: dict):
        lo = start["tbl_id"]
        hi = min(lo + _TBLS_PER_PART, _N_PARTS * _TBLS_PER_PART)
        # the runner calls next() on this AND pickles it into its
        # prefetch cache → must be an ITERATOR that pickles: a
        # list-iterator is both (a generator pickles not at all, a
        # bare list iterates not at all)
        return iter(_rows_between(lo, hi)), {"tbl_id": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(_rows_between(start["tbl_id"], end["tbl_id"]))


def _rows_between(lo: int, hi: int) -> list:
    return [
        (
            tbl_id,
            f"db_{tbl_id % 10}",
            f"tbl_{tbl_id}",
            f"owner_{tbl_id % 7}",
            "MANAGED_TABLE" if tbl_id % 5 else "EXTERNAL_TABLE",
            _EPOCH + datetime.timedelta(days=tbl_id),
        )
        for tbl_id in range(lo, hi)
    ]


# ---------------------------------------------------------------------------
# Write side: the report SINK analog of the reader above. A collector's
# live path UPSERTS rollups into a report store (JDBC table / ES index);
# the two-phase task-stage → driver-commit protocol below is that
# pattern on the Spark 4 Python Data Source writer API, testable
# offline: tasks stage Arrow batches as parquet files, the driver
# commit publishes them ATOMICALLY by appending a manifest generation —
# readers only ever see manifest-listed files, so a failed job leaves
# no torn output (abort deletes its stage files).
# ---------------------------------------------------------------------------

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)
from dataclasses import dataclass


@dataclass
class _StagedFile(WriterCommitMessage):
    path: str
    rows: int


class ReportSink(DataSource):
    """`format("hmcs_report_sink")` — manifest-committed upsert sink.

    Each `save()` call publishes one manifest GENERATION; re-writing a
    key in a later generation supersedes it (last-writer-wins), which
    is exactly the ES/JDBC upsert contract. `mode("overwrite")` starts
    the manifest over; `mode("append")` adds a generation.
    """

    @classmethod
    def name(cls) -> str:
        return "hmcs_report_sink"

    def writer(self, schema, overwrite: bool) -> "ReportSinkWriter":
        return ReportSinkWriter(self.options["path"], overwrite)


class ReportSinkWriter(DataSourceArrowWriter):
    def __init__(self, path: str, overwrite: bool):
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator) -> _StagedFile:
        """Runs on the EXECUTOR, once per input partition: drain this
        task's Arrow batches into one staged parquet file. Arrow-batch
        transfer (DataSourceArrowWriter, not the Row-iterator base) is
        the scale path — no per-row Python object churn."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(self.path, "stage"), exist_ok=True)
        batches = [b for b in iterator]
        staged = os.path.join(self.path, "stage", f"stage-{uuid.uuid4().hex}.parquet")
        table = pa.Table.from_batches(batches)
        pq.write_table(table, staged)
        return _StagedFile(path=staged, rows=table.num_rows)

    def _manifest(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def commit(self, messages) -> None:
        """Runs on the DRIVER after every task succeeded: publish all
        staged files as the next manifest generation. The manifest is
        the single source of visibility — this append is the atomic
        commit point."""
        entries = []
        if not self.overwrite and os.path.exists(self._manifest()):
            with open(self._manifest()) as f:
                entries = json.load(f)
        gen = 1 + max((e["gen"] for e in entries), default=0)
        for m in messages:
            entries.append(
                {"file": m.path, "gen": gen, "rows": m.rows}
            )
        tmp = self._manifest() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f)
        os.replace(tmp, self._manifest())  # atomic on POSIX

    def abort(self, messages) -> None:
        """Failed job: delete this attempt's staged files; the manifest
        was never touched, so committed data is unaffected."""
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


def read_report_sink(spark: SparkSession, path: str) -> DataFrame:
    """Read back ONLY manifest-committed files, tagging each row with
    its generation. The manifest is bounded metadata (one entry per
    committed task file), so the driver-side json read is justified;
    the file→gen map joins back via input_file_name over a broadcast
    (it is |files|-sized)."""
    with open(os.path.join(path, "_manifest.json")) as f:
        entries = json.load(f)
    files = [e["file"] for e in entries]
    gen_map = spark.createDataFrame(
        [(os.path.basename(e["file"]), e["gen"]) for e in entries],
        "file_base string, gen int",
    )
    df = spark.read.parquet(*files).withColumn(
        "file_base",
        F.element_at(F.split(F.input_file_name(), "/"), -1),
    )
    return df.join(F.broadcast(gen_map), "file_base").drop("file_base")


@register(
    "sink_python_datasink",
    survey_row=75,
    oracle="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey < 10 THEN n_regionkey + 100
                ELSE n_regionkey END AS final_val,
           CASE WHEN n_nationkey < 10 THEN 2 ELSE 1 END::BIGINT AS n_gens
    FROM nation
    """,
)
def sink_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert roundtrip through the custom Python Data Source WRITER:
    generation 1 writes the full nation dim, generation 2 upserts new
    values for keys < 10; the read-back resolves last-writer-wins per
    key with max_by over the manifest generation (one |keys|-group
    aggregate, no window sort). Exercises stage→commit atomicity, the
    append-generation upsert contract, and the Arrow write path; the
    oracle states the expected post-upsert store relationally."""
    from hive_metadata_collect_spark.sources.fixtures import load_table

    target = os.path.join(build_dir(spark), "report_sink_nation")
    spark.dataSource.register(ReportSink)
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", F.col("n_regionkey").alias("val")
    )
    n.write.format("hmcs_report_sink").mode("overwrite").option(
        "path", target
    ).save()
    update = n.filter(F.col("n_nationkey") < 10).withColumn(
        "val", F.col("val") + F.lit(100)
    )
    update.write.format("hmcs_report_sink").mode("append").option(
        "path", target
    ).save()
    store = read_report_sink(spark, target)
    return store.groupBy("n_nationkey").agg(
        F.max_by("n_name", "gen").alias("n_name"),
        F.max_by("val", "gen").alias("final_val"),
        F.countDistinct("gen").alias("n_gens"),
    )


class ReportSinkStreamWriter(DataSourceStreamArrowWriter):
    """Streaming writer for `hmcs_report_sink`: one manifest generation
    per MICRO-BATCH, with gen = batchId + 1 so a replayed epoch
    (restart after a commit-side crash) REPLACES its own generation
    instead of appending a duplicate — the idempotent-commit half of
    streaming exactly-once (the offset-log half lives in the
    checkpoint). Inherits the Arrow stage-file write; only the commit
    protocol differs from the batch writer."""

    def __init__(self, path: str):
        self.path = path

    write = ReportSinkWriter.write  # same executor-side Arrow staging
    _manifest = ReportSinkWriter._manifest

    def commit(self, messages, batchId: int) -> None:
        entries = []
        if os.path.exists(self._manifest()):
            with open(self._manifest()) as f:
                entries = json.load(f)
        gen = batchId + 1
        # idempotent re-commit: drop any previous attempt of this epoch
        entries = [e for e in entries if e["gen"] != gen]
        for m in messages:
            entries.append({"file": m.path, "gen": gen, "rows": m.rows})
        tmp = self._manifest() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f)
        os.replace(tmp, self._manifest())

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


def _report_sink_stream_writer(self, schema, overwrite: bool):
    return ReportSinkStreamWriter(self.options["path"])


ReportSink.streamWriter = _report_sink_stream_writer


@register(
    "stream_sink_python_datasource",
    survey_row=75,
    oracle="""
    WITH t AS (
        SELECT i AS tbl_id,
               'db_' || (i % 10) AS db_name,
               CASE WHEN i % 5 = 0 THEN 'EXTERNAL_TABLE'
                    ELSE 'MANAGED_TABLE' END AS tbl_type
        FROM range(100) u(i)
    )
    SELECT db_name,
           count(*)::BIGINT AS n_tables,
           sum(CASE WHEN tbl_type = 'EXTERNAL_TABLE' THEN 1 ELSE 0 END)::BIGINT
               AS n_external,
           4::BIGINT AS n_generations
    FROM t
    GROUP BY db_name
    """,
)
def stream_sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CONNECTOR PIPE: the custom Python Data Source's
    STREAM reader feeds its STREAM writer — metastore change-feed →
    micro-batches → manifest-committed report store, the full live
    collector path with no fixture files on either end. The finite
    source yields exactly four 25-row micro-batches, so the committed
    store must hold four generations totaling 100 rows; the read-back
    rollup per database is hash-checked against the relational
    restatement (n_generations pinned at 4 proves per-epoch commit
    granularity, not one bulk write). Scale: each micro-batch stages
    Arrow batches in parallel tasks and commits once at the driver —
    the same bounded-metadata manifest as the batch path."""
    base = build_dir(spark)
    target = os.path.join(base, "report_sink_stream")
    ckpt = os.path.join(base, "report_sink_stream_ckpt")
    spark.dataSource.register(MetastoreSource)
    spark.dataSource.register(ReportSink)
    q = (
        spark.readStream.format("hmcs_metastore")
        .load()
        .writeStream.format("hmcs_report_sink")
        .option("path", target)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    store = read_report_sink(spark, target)
    return store.groupBy("db_name").agg(
        F.count(F.lit(1)).alias("n_tables"),
        F.sum(
            F.when(F.col("tbl_type") == "EXTERNAL_TABLE", 1).otherwise(0)
        ).alias("n_external"),
        F.countDistinct("gen").alias("n_generations"),
    )
