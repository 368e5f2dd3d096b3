"""Apache Iceberg manifest-layer planning — the metadata half below
`cat_iceberg_metadata_replay` (catalog/partitions.py), which stops at
`v{N}.metadata.json` because manifests need Avro. This module closes
that boundary with the minimal spec Avro reader in sources/avro_light.py
over checked-in spec-conformant fixtures
(tools/make_iceberg_manifests.py; the manifest-list names are the ones
the committed v{N}.metadata.json files already carry).

Scale shape: Iceberg planning is snapshot → manifest list → manifests
→ data files, and the parallel unit is the MANIFEST — a 1000-executor
planner decodes thousands of manifests as independent tasks and never
centralizes file entries. The ops here mirror that: manifest files
arrive via `spark.read.format("binaryFile")` (one row per file, never
concatenated), decode in a mapInPandas stage (Arrow-batched, one
Python decode per FILE — metadata-sized, not data-sized), and all
linkage joins (current list → its manifests → their entries) are
broadcast joins against metadata-sized frames.
"""

from __future__ import annotations

import pathlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.avro_light import read_ocf

_META_DIR = str(
    pathlib.Path(__file__).resolve().parents[2]
    / "fixtures"
    / "iceberg_table"
    / "metadata"
)

_LIST_SCHEMA = (
    "list_file string, manifest_path string, added_snapshot_id long, "
    "added_files_count int, existing_files_count int, "
    "deleted_files_count int, added_rows_count long, "
    "existing_rows_count long, deleted_rows_count long"
)

_ENTRY_SCHEMA = (
    "manifest_file string, status int, file_path string, "
    "record_count long, file_size_in_bytes long, "
    "lower_ev long, upper_ev long"
)


def _decode_manifest_lists(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """binaryFile rows (path, content) → manifest-list entries."""
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            _schema, recs = read_ocf(bytes(content))
            fname = path.rsplit("/", 1)[-1]
            for r in recs:
                rows.append(
                    {
                        "list_file": fname,
                        "manifest_path": r["manifest_path"],
                        "added_snapshot_id": r["added_snapshot_id"],
                        "added_files_count": r["added_files_count"],
                        "existing_files_count": r["existing_files_count"],
                        "deleted_files_count": r["deleted_files_count"],
                        "added_rows_count": r["added_rows_count"],
                        "existing_rows_count": r["existing_rows_count"],
                        "deleted_rows_count": r["deleted_rows_count"],
                    }
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "list_file",
                "manifest_path",
                "added_snapshot_id",
                "added_files_count",
                "existing_files_count",
                "deleted_files_count",
                "added_rows_count",
                "existing_rows_count",
                "deleted_rows_count",
            ],
        )


def _decode_manifest_entries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """binaryFile rows (path, content) → data-file entries with the
    field-1 (event_id) bounds decoded from Iceberg's single-value
    serialization (8-byte little-endian signed long)."""
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            _schema, recs = read_ocf(bytes(content))
            fname = path.rsplit("/", 1)[-1]
            for r in recs:
                d = r["data_file"]
                lo = {kv["key"]: kv["value"] for kv in (d["lower_bounds"] or [])}
                hi = {kv["key"]: kv["value"] for kv in (d["upper_bounds"] or [])}
                # A data file may legally omit bounds for a field
                # (Iceberg spec: lower_bounds/upper_bounds are optional
                # per-column maps). Degrade to a null bound — an
                # unprunable row — rather than KeyError-ing the whole
                # decode task.
                lo1, hi1 = lo.get(1), hi.get(1)
                rows.append(
                    {
                        "manifest_file": fname,
                        "status": r["status"],
                        "file_path": d["file_path"],
                        "record_count": d["record_count"],
                        "file_size_in_bytes": d["file_size_in_bytes"],
                        "lower_ev": (
                            struct.unpack("<q", lo1)[0]
                            if lo1 is not None else None
                        ),
                        "upper_ev": (
                            struct.unpack("<q", hi1)[0]
                            if hi1 is not None else None
                        ),
                    }
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "manifest_file",
                "status",
                "file_path",
                "record_count",
                "file_size_in_bytes",
                "lower_ev",
                "upper_ev",
            ],
        )


def _current_manifest_list(spark: SparkSession) -> DataFrame:
    """1-row frame: the current snapshot's manifest-list file name,
    resolved declaratively from the latest v{N}.metadata.json exactly
    as cat_iceberg_metadata_replay resolves versions."""
    raw = spark.read.text(
        _META_DIR + "/*.metadata.json", wholetext=True
    ).select(
        "value",
        F.regexp_extract(F.input_file_name(), r"v(\d+)\.metadata\.json", 1)
        .cast("long")
        .alias("v"),
    )
    latest = raw.withColumn(
        "maxv", F.max("v").over(Window.partitionBy())
    ).filter(F.col("v") == F.col("maxv"))
    snaps = latest.select(
        F.explode(
            F.from_json(
                F.get_json_object("value", "$.snapshots"),
                "array<struct<`snapshot-id`:bigint,"
                "`manifest-list`:string>>",
            )
        ).alias("s"),
        F.get_json_object("value", "$['current-snapshot-id']")
        .cast("long")
        .alias("cur"),
    )
    return snaps.filter(F.col("s.`snapshot-id`") == F.col("cur")).select(
        F.col("s.`manifest-list`").alias("list_file")
    )


def _live_entries(spark: SparkSession) -> DataFrame:
    """Data-file entries reachable from the CURRENT snapshot:
    metadata.json → manifest list → manifests → entries, with
    DELETED (status 2) entries dropped — the file inventory Iceberg's
    planner starts from."""
    lists = spark.read.format("binaryFile").option(
        "pathGlobFilter", "snap-*.avro"
    ).load(_META_DIR).select("path", "content").mapInPandas(
        _decode_manifest_lists, _LIST_SCHEMA
    )
    cur = _current_manifest_list(spark)
    active = lists.join(
        F.broadcast(cur), lists["list_file"] == cur["list_file"], "left_semi"
    ).select("manifest_path")
    entries = spark.read.format("binaryFile").option(
        "pathGlobFilter", "m-*.avro"
    ).load(_META_DIR).select("path", "content").mapInPandas(
        _decode_manifest_entries, _ENTRY_SCHEMA
    )
    # Real Iceberg manifest lists carry full URIs in manifest_path
    # while the entry side keys on the decoded file's basename —
    # normalize BOTH sides to basenames so the linkage works on any
    # metadata tree instead of silently yielding an empty plan when
    # paths are absolute.
    active_base = active.select(
        F.element_at(F.split(F.col("manifest_path"), "/"), -1).alias(
            "manifest_base"
        )
    )
    return entries.join(
        F.broadcast(active_base),
        entries["manifest_file"] == active_base["manifest_base"],
        "left_semi",
    ).filter(F.col("status") != 2)


@register(
    "cat_iceberg_manifest_prune",
    survey_row=61,
    oracle=f"""
    WITH raw AS (
        SELECT content AS line,
               regexp_extract(filename, 'v(\\d+)\\.metadata\\.json', 1)
                   ::BIGINT AS v
        FROM read_text('{_META_DIR}/*.metadata.json')
    ),
    latest AS (
        SELECT line FROM raw WHERE v = (SELECT max(v) FROM raw)
    ),
    snaps AS (
        SELECT json_extract(line, '$.snapshots[' || i || ']') AS s,
               (line->>'current-snapshot-id')::BIGINT AS cur
        FROM latest,
             unnest(range(0,
                 json_array_length(line->'snapshots')::BIGINT)) r(i)
    ),
    cur_list AS (
        SELECT s->>'manifest-list' AS list_file
        FROM snaps WHERE (s->>'snapshot-id')::BIGINT = cur
    ),
    entries AS (
        SELECT * FROM read_json(
            '{_META_DIR}/manifest_entries.json',
            format='newline_delimited')
    )
    SELECT e.file_path,
           e.manifest_path,
           e.record_count::BIGINT AS record_count,
           e.file_size_in_bytes::BIGINT AS file_size_in_bytes,
           e.lower_ev::BIGINT AS lower_ev,
           e.upper_ev::BIGINT AS upper_ev,
           (e.upper_ev >= 150 AND e.lower_ev <= 450) AS selected
    FROM entries e JOIN cur_list c ON e.list_file = c.list_file
    WHERE e.status <> 2
    ORDER BY e.file_path
    """,
)
def cat_iceberg_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICEBERG FILE-LEVEL SCAN PLANNING — the second half of Iceberg
    metadata handling that cat_iceberg_metadata_replay names as its
    boundary: current snapshot → Avro manifest list → Avro manifests
    → per-data-file min/max pruning verdict for the predicate
    `event_id BETWEEN 150 AND 450` (field id 1's lower/upper bounds,
    decoded from Iceberg's single-value serialization). The output is
    the SCAN PLAN a query engine derives without touching one data
    byte: every live file with its row/byte cost and whether the
    bounds can exclude it — on the fixture, the overwrite-deleted
    file never appears, f-a1 [1,100] is pruned, and 5 of 6 live files
    survive.

    The DuckDB oracle re-derives the same plan from the committed
    NDJSON projection of the manifests (written beside the Avro by
    the fixture generator), joined against the SAME metadata-json
    snapshot resolution — so the Spark side's binary Avro decode is
    verified against an independent, human-readable rendering of the
    identical entries, and the reader is additionally byte-golden
    pinned in tests/test_iceberg_manifests.py.

    Scale shape: manifests decode one-per-task behind binaryFile (no
    concatenation point); the list→manifest and manifest→current
    joins broadcast metadata-sized frames; the plan is linear in
    manifest count — the same reason Iceberg itself fans planning out
    over manifests. At a real 100 TB table the only change is the
    directory listing feeding binaryFile."""
    pred_lo, pred_hi = 150, 450
    live = _live_entries(spark)
    return (
        live.select(
            "file_path",
            F.col("manifest_file").alias("manifest_path"),
            "record_count",
            "file_size_in_bytes",
            "lower_ev",
            "upper_ev",
            (
                (F.col("upper_ev") >= pred_lo)
                & (F.col("lower_ev") <= pred_hi)
            ).alias("selected"),
        )
        .orderBy("file_path")
    )


@register(
    "cat_iceberg_live_reconcile",
    survey_row=61,
    oracle=f"""
    WITH raw AS (
        SELECT content AS line,
               regexp_extract(filename, 'v(\\d+)\\.metadata\\.json', 1)
                   ::BIGINT AS v
        FROM read_text('{_META_DIR}/*.metadata.json')
    ),
    latest AS (
        SELECT line FROM raw WHERE v = (SELECT max(v) FROM raw)
    ),
    snaps AS (
        SELECT json_extract(line, '$.snapshots[' || i || ']') AS s,
               (line->>'current-snapshot-id')::BIGINT AS cur
        FROM latest,
             unnest(range(0,
                 json_array_length(line->'snapshots')::BIGINT)) r(i)
    ),
    summary_net AS (
        SELECT sum((s->'summary'->>'added-records')::BIGINT
                   - (s->'summary'->>'deleted-records')::BIGINT)
                   AS net_records
        FROM snaps
    ),
    cur_list AS (
        SELECT s->>'manifest-list' AS list_file
        FROM snaps WHERE (s->>'snapshot-id')::BIGINT = cur
    ),
    entries AS (
        SELECT * FROM read_json(
            '{_META_DIR}/manifest_entries.json',
            format='newline_delimited')
    ),
    live AS (
        SELECT e.* FROM entries e
        JOIN cur_list c ON e.list_file = c.list_file
        WHERE e.status <> 2
    )
    SELECT count(*)::BIGINT AS n_live_files,
           sum(record_count)::BIGINT AS live_records,
           sum(file_size_in_bytes)::BIGINT AS live_bytes,
           (SELECT net_records FROM summary_net)::BIGINT
               AS summary_net_records,
           sum(record_count) = (SELECT net_records FROM summary_net)
               AS reconciled
    FROM live
    """,
)
def cat_iceberg_live_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICEBERG METADATA CROSS-LAYER AUDIT: the manifest layer's live
    file inventory (current snapshot's manifests, DELETED entries
    dropped) must reconcile with the snapshot-summary layer's running
    net record count (Σ added − deleted over the snapshot log) — the
    invariant a corrupted or torn metadata tree breaks first, and the
    check a catalog service runs before trusting either layer. On the
    fixture both layers independently say 280 records. Same
    decode/join plan as cat_iceberg_manifest_prune; the summary side
    rides the committed metadata JSON exactly as
    cat_iceberg_metadata_replay reads it."""
    live = _live_entries(spark)
    totals = live.agg(
        F.count(F.lit(1)).cast("long").alias("n_live_files"),
        F.sum("record_count").cast("long").alias("live_records"),
        F.sum("file_size_in_bytes").cast("long").alias("live_bytes"),
    )
    raw = spark.read.text(
        _META_DIR + "/*.metadata.json", wholetext=True
    ).select(
        "value",
        F.regexp_extract(F.input_file_name(), r"v(\d+)\.metadata\.json", 1)
        .cast("long")
        .alias("v"),
    )
    latest = raw.withColumn(
        "maxv", F.max("v").over(Window.partitionBy())
    ).filter(F.col("v") == F.col("maxv"))
    net = (
        latest.select(
            F.explode(
                F.from_json(
                    F.get_json_object("value", "$.snapshots"),
                    "array<struct<summary:map<string,string>>>",
                )
            ).alias("s")
        )
        .agg(
            F.sum(
                F.col("s.summary")["added-records"].cast("long")
                - F.col("s.summary")["deleted-records"].cast("long")
            )
            .cast("long")
            .alias("summary_net_records")
        )
    )
    return totals.crossJoin(F.broadcast(net)).select(
        "n_live_files",
        "live_records",
        "live_bytes",
        "summary_net_records",
        (F.col("live_records") == F.col("summary_net_records")).alias(
            "reconciled"
        ),
    )


def _snapshot_map(spark: SparkSession) -> DataFrame:
    """(snapshot_id, parent_id, list_file, operation, summary added/
    deleted records) from the LATEST v{N}.metadata.json — the same
    version resolution as _current_manifest_list, widened to the full
    snapshot log."""
    raw = spark.read.text(
        _META_DIR + "/*.metadata.json", wholetext=True
    ).select(
        "value",
        F.regexp_extract(F.input_file_name(), r"v(\d+)\.metadata\.json", 1)
        .cast("long")
        .alias("v"),
    )
    latest = raw.withColumn(
        "maxv", F.max("v").over(Window.partitionBy())
    ).filter(F.col("v") == F.col("maxv"))
    return latest.select(
        F.explode(
            F.from_json(
                F.get_json_object("value", "$.snapshots"),
                "array<struct<`snapshot-id`:bigint,"
                "`parent-snapshot-id`:bigint,`manifest-list`:string,"
                "summary:map<string,string>>>",
            )
        ).alias("s")
    ).select(
        F.col("s.`snapshot-id`").alias("snapshot_id"),
        F.col("s.`parent-snapshot-id`").alias("parent_id"),
        F.col("s.`manifest-list`").alias("list_file"),
        F.element_at("s.summary", "operation").alias("operation"),
        F.element_at("s.summary", "added-records")
        .cast("long")
        .alias("summary_added_records"),
        F.element_at("s.summary", "deleted-records")
        .cast("long")
        .alias("summary_deleted_records"),
    )


@register(
    "cat_iceberg_snapshot_diff",
    survey_row=61,
    oracle=f"""
    WITH raw AS (
        SELECT content AS line,
               regexp_extract(filename, 'v(\\d+)\\.metadata\\.json', 1)
                   ::BIGINT AS v
        FROM read_text('{_META_DIR}/*.metadata.json')
    ),
    latest AS (
        SELECT line FROM raw WHERE v = (SELECT max(v) FROM raw)
    ),
    smap AS (
        SELECT (s->>'snapshot-id')::BIGINT AS sid,
               (s->>'parent-snapshot-id')::BIGINT AS pid,
               s->>'manifest-list' AS list_file,
               s->'summary'->>'operation' AS operation,
               (s->'summary'->>'added-records')::BIGINT AS sum_added,
               (s->'summary'->>'deleted-records')::BIGINT AS sum_deleted
        FROM (
            SELECT json_extract(line, '$.snapshots[' || i || ']') AS s
            FROM latest,
                 unnest(range(0,
                     json_array_length(line->'snapshots')::BIGINT)) r(i)
        )
    ),
    entries AS (
        SELECT * FROM read_json(
            '{_META_DIR}/manifest_entries.json',
            format='newline_delimited')
    ),
    live AS (
        SELECT m.sid, e.file_path, e.record_count
        FROM entries e JOIN smap m ON e.list_file = m.list_file
        WHERE e.status <> 2
    ),
    prevlive AS (
        SELECT c.sid AS child_sid, l.file_path, l.record_count
        FROM live l JOIN smap c ON l.sid = c.pid
    ),
    diff AS (
        SELECT coalesce(a.sid, p.child_sid) AS sid,
               a.file_path AS af, a.record_count AS arc,
               p.file_path AS pf, p.record_count AS prc
        FROM live a FULL JOIN prevlive p
          ON a.sid = p.child_sid AND a.file_path = p.file_path
    )
    SELECT m.sid AS snapshot_id,
           m.pid AS parent_id,
           m.operation,
           count(CASE WHEN d.pf IS NULL AND d.af IS NOT NULL
                 THEN 1 END)::BIGINT AS n_files_added,
           coalesce(sum(CASE WHEN d.pf IS NULL THEN d.arc END), 0)
               ::BIGINT AS records_added,
           count(CASE WHEN d.af IS NULL AND d.pf IS NOT NULL
                 THEN 1 END)::BIGINT AS n_files_removed,
           coalesce(sum(CASE WHEN d.af IS NULL THEN d.prc END), 0)
               ::BIGINT AS records_removed,
           m.sum_added AS summary_added_records,
           m.sum_deleted AS summary_deleted_records,
           (coalesce(sum(CASE WHEN d.pf IS NULL THEN d.arc END), 0)
                = m.sum_added
            AND coalesce(sum(CASE WHEN d.af IS NULL THEN d.prc END), 0)
                = m.sum_deleted) AS reconciled
    FROM smap m LEFT JOIN diff d ON d.sid = m.sid
    GROUP BY m.sid, m.pid, m.operation, m.sum_added, m.sum_deleted
    ORDER BY snapshot_id
    """,
)
def cat_iceberg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICEBERG SNAPSHOT CHANGELOG FROM MANIFEST REACHABILITY — the
    incremental-read primitive (Iceberg's `incremental append scan` /
    CDC-by-snapshot): for EVERY snapshot in the log, diff its live
    file inventory (its manifest list → manifests → non-DELETED
    entries) against its parent's — files gained and removed with
    record deltas — and reconcile both deltas against the snapshot's
    own summary layer (added-records / deleted-records). This is the
    set-difference ground truth a consumer uses to read "what changed
    between s1 and s2" without replaying data files, and the audit
    that catches a summary that lies about its manifests. On the
    fixture: append +100, append +150, overwrite +80/−50 — all three
    reconciled, with the overwrite's EXISTING (status 0) carry-over
    file correctly absent from both deltas.

    Shape: the same one-decode-per-manifest mapInPandas stages as
    cat_iceberg_manifest_prune (binaryFile, no concatenation point);
    every linkage (list→snapshot, entry→list, live→parent-live full
    outer) joins metadata-sized frames — broadcastable at any table
    size, since manifests are bounded by partitions-per-snapshot, not
    data volume. The full-outer self-diff keys on (child_snapshot,
    file_path): file-count-sized, the same object Iceberg's own
    planner holds. DuckDB re-derives the identical changelog from the
    committed NDJSON projection of the same manifests."""
    smap = _snapshot_map(spark)
    lists = spark.read.format("binaryFile").option(
        "pathGlobFilter", "snap-*.avro"
    ).load(_META_DIR).select("path", "content").mapInPandas(
        _decode_manifest_lists, _LIST_SCHEMA
    )
    entries = spark.read.format("binaryFile").option(
        "pathGlobFilter", "m-*.avro"
    ).load(_META_DIR).select("path", "content").mapInPandas(
        _decode_manifest_entries, _ENTRY_SCHEMA
    )
    tagged = lists.join(
        F.broadcast(smap.select("snapshot_id", "list_file")), "list_file"
    ).select(
        "snapshot_id",
        F.element_at(F.split(F.col("manifest_path"), "/"), -1).alias(
            "manifest_base"
        ),
    )
    live = (
        entries.join(
            F.broadcast(tagged),
            entries["manifest_file"] == tagged["manifest_base"],
        )
        .filter(F.col("status") != 2)
        .select(F.col("snapshot_id").alias("sid"), "file_path", "record_count")
    )
    prevlive = live.join(
        F.broadcast(
            smap.select(
                F.col("snapshot_id").alias("child_sid"),
                F.col("parent_id").alias("pid"),
            )
        ),
        live["sid"] == F.col("pid"),
    ).select("child_sid", F.col("file_path").alias("pf"), F.col("record_count").alias("prc"))
    cur = live.select(
        F.col("sid").alias("a_sid"),
        F.col("file_path").alias("af"),
        F.col("record_count").alias("arc"),
    )
    diff = cur.join(
        prevlive,
        (cur["a_sid"] == prevlive["child_sid"]) & (cur["af"] == prevlive["pf"]),
        "full_outer",
    ).select(
        F.coalesce("a_sid", "child_sid").alias("sid"), "af", "arc", "pf", "prc"
    )
    return (
        smap.join(diff, smap["snapshot_id"] == diff["sid"], "left_outer")
        .groupBy(
            "snapshot_id",
            "parent_id",
            "operation",
            "summary_added_records",
            "summary_deleted_records",
        )
        .agg(
            F.count(F.when(F.col("pf").isNull() & F.col("af").isNotNull(), 1))
            .cast("long")
            .alias("n_files_added"),
            F.coalesce(
                F.sum(F.when(F.col("pf").isNull(), F.col("arc"))), F.lit(0)
            )
            .cast("long")
            .alias("records_added"),
            F.count(F.when(F.col("af").isNull() & F.col("pf").isNotNull(), 1))
            .cast("long")
            .alias("n_files_removed"),
            F.coalesce(
                F.sum(F.when(F.col("af").isNull(), F.col("prc"))), F.lit(0)
            )
            .cast("long")
            .alias("records_removed"),
        )
        .select(
            "snapshot_id",
            "parent_id",
            "operation",
            "n_files_added",
            "records_added",
            "n_files_removed",
            "records_removed",
            "summary_added_records",
            "summary_deleted_records",
            (
                (F.col("records_added") == F.col("summary_added_records"))
                & (
                    F.col("records_removed")
                    == F.col("summary_deleted_records")
                )
            ).alias("reconciled"),
        )
        .orderBy("snapshot_id")
    )
