"""Storage-layout, partition-maintenance and table-format-log catalog
operators — split from catalog/stats.py when that file reached 7.9k
lines (behavior and operator names unchanged, registry path in
registry._OP_MODULES).

Families here: partition inventory/freshness/skew/retention and
MSCK-style repair planning; storage accounting and compaction/vacuum/
orphan-file planning over binaryFile listings (path+length only —
content pruned); parquet-footer statistics and skip-index/bloom/RLE
compressibility audits; transaction-log replay for Delta (NDJSON) and
Iceberg (pretty-printed metadata JSON — the Avro manifest layer lives
in catalog/iceberg.py); SCD2 table maintenance (diff/apply/repair),
MERGE upsert, bitemporal as-of, erasure planning and the Merkle table
root. Scale shape throughout: file-listing frames are metadata-sized;
log replays read few-per-commit files; maintenance diffs shuffle on
the business key once.
"""



from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.session import build_dir
from hive_metadata_collect_spark.sources.fixtures import TABLES, load_table


@register(
    "cat_partition_freshness",
    survey_row=63,
    oracle="""
    WITH per_type AS (
        SELECT event_type, max(ts) AS last_ts FROM events GROUP BY event_type
    ), gmax AS (SELECT max(ts) AS global_max FROM events)
    SELECT event_type, last_ts,
           epoch_us(global_max) - epoch_us(last_ts) AS stale_us,
           round((epoch_us(global_max) - epoch_us(last_ts)) / 3600000000.0, 6)
               AS stale_hours
    FROM per_type CROSS JOIN gmax
    """,
)
def cat_partition_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-partition freshness per entity (event_type as the
    partition analog): last ts + staleness vs the newest data point.
    The global max is a 1-row broadcast, not a window over all rows."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(F.max("ts").alias("last_ts"))
    glob = ev.agg(F.max("ts").alias("global_max"))
    stale_us = F.unix_micros("global_max") - F.unix_micros("last_ts")
    return (
        per_type.crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            "last_ts",
            stale_us.alias("stale_us"),
            F.round(stale_us / 3.6e9, 6).alias("stale_hours"),
        )
    )

@register(
    "cat_scd2_diff",
    survey_row=61,
    oracle="""
    WITH incoming AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 97 <> 0
        UNION ALL
        SELECT c_custkey + 1000000 AS c_custkey, c_acctbal
        FROM customer WHERE c_custkey % 89 = 0
    )
    SELECT coalesce(cur.c_custkey, inc.c_custkey) AS c_custkey,
           CASE WHEN cur.c_custkey IS NULL THEN 'insert'
                WHEN inc.c_custkey IS NULL THEN 'delete'
                WHEN cur.c_acctbal <> inc.c_acctbal THEN 'update'
                ELSE 'unchanged' END AS change_type,
           cur.c_acctbal AS old_bal,
           inc.c_acctbal AS new_bal
    FROM customer cur FULL OUTER JOIN incoming inc
      ON cur.c_custkey = inc.c_custkey
    """,
)
def cat_scd2_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot change-capture (the SCD2 / MERGE prelude a catalog
    runs on every collection cycle): full-outer-join yesterday's
    snapshot against today's, classifying every key as insert /
    delete / update / unchanged. The incoming snapshot is derived
    deterministically from the fixture (bump %7 keys, drop %97 keys,
    add new %89 keys) so both engines diff identical inputs. At scale
    both snapshots are bucketed on the business key, making the diff
    a co-located merge with no shuffle."""
    cur = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    k = F.col("c_custkey")
    inc = (
        cur.filter(k % 97 != 0)
        .select(
            "c_custkey",
            F.when(k % 7 == 0, F.col("c_acctbal") + 100)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionAll(
            cur.filter(k % 89 == 0).select(
                (k + 1000000).alias("c_custkey"), "c_acctbal"
            )
        )
    )
    cur_a, inc_a = cur.alias("cur"), inc.alias("inc")
    return cur_a.join(
        inc_a, F.col("cur.c_custkey") == F.col("inc.c_custkey"), "full"
    ).select(
        F.coalesce(F.col("cur.c_custkey"), F.col("inc.c_custkey")).alias(
            "c_custkey"
        ),
        F.when(F.col("cur.c_custkey").isNull(), "insert")
        .when(F.col("inc.c_custkey").isNull(), "delete")
        .when(F.col("cur.c_acctbal") != F.col("inc.c_acctbal"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
        F.col("cur.c_acctbal").alias("old_bal"),
        F.col("inc.c_acctbal").alias("new_bal"),
    )

@register(
    "cat_partition_listing",
    survey_row=63,
    oracle="""
    SELECT ts::DATE AS event_date, count(*) AS n_rows
    FROM events
    WHERE ts::DATE BETWEEN DATE '2024-01-05' AND DATE '2024-01-25'
    GROUP BY 1
    """,
)
def cat_partition_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION_KEY_VALS-style partition inventory: write the event
    stream date-partitioned (one directory per day), read it back, and
    list one row per partition with its row count — the partition
    values come from DIRECTORY DISCOVERY (Spark's partition-column
    reconstruction), not from the data pages, which is exactly where a
    catalog's partition listing comes from in a Hive layout. The date
    range predicate prunes at the listing level (PartitionFilters), so
    the scan never opens out-of-range directories; the oracle
    re-derives the same inventory from the raw stream."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    target = os.path.join(build_dir(spark), "part_listing")
    ev.write.partitionBy("event_date").parquet(target)
    back = spark.read.parquet(target)
    return (
        back.filter(F.col("event_date").between("2024-01-05", "2024-01-25"))
        .groupBy("event_date")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )

@register(
    "cat_partition_skew_report",
    survey_row=63,
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n_rows
        FROM events GROUP BY 1
    ),
    t AS (SELECT sum(n_rows) AS tot, avg(n_rows) AS av FROM d)
    SELECT day, n_rows,
           round(n_rows / tot, 6) AS share,
           round(n_rows / av, 4) AS ratio_to_avg
    FROM d, t
    """,
)
def cat_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew detector: per-day row counts of the event table
    with each day's share of total and ratio to the mean — the report
    that tells an operator which date partitions will straggle (a
    ratio_to_avg ≫ 1 partition is the task that runs 10× longer than
    the median at 100 TB, the trigger for salting / AQE skew-join).
    One partial-aggregated shuffle on day; the totals frame is one row
    and broadcast into the join — no global window sort."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = daily.agg(
        F.sum("n_rows").cast("double").alias("tot"),
        F.avg("n_rows").alias("av"),
    )
    return daily.crossJoin(F.broadcast(totals)).select(
        "day",
        "n_rows",
        F.round(F.col("n_rows") / F.col("tot"), 6).alias("share"),
        F.round(F.col("n_rows") / F.col("av"), 4).alias("ratio_to_avg"),
    )

@register(
    "cat_merge_upsert",
    survey_row=61,
    oracle="""
    WITH b AS (SELECT min(event_type) AS lo, max(event_type) AS hi
               FROM events),
    prev AS (
        SELECT event_type, count(*)::BIGINT AS n
        FROM events
        WHERE (event_id % 3 <> 0 OR event_type >= 'p')
          AND event_type <> (SELECT lo FROM b)
        GROUP BY event_type
    ),
    cur AS (
        SELECT event_type, count(*)::BIGINT AS n
        FROM events
        WHERE event_type <> (SELECT hi FROM b)
        GROUP BY event_type
    )
    SELECT coalesce(c.event_type, p.event_type) AS event_type,
           coalesce(c.n, p.n)::BIGINT AS n,
           CASE WHEN p.event_type IS NULL THEN 'insert'
                WHEN c.event_type IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM prev p FULL OUTER JOIN cur c ON p.event_type = c.event_type
    """,
)
def cat_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics for the reporting store
    (`cat_scd2_diff` / `cat_snapshot_diff` compute the diff; this
    operator APPLIES it). Classic warehouse MERGE over the same two
    deterministic inventory snapshots cat_snapshot_diff uses: source
    rows matched in the target are UPDATEd to the source value,
    unmatched source rows are INSERTed, and target rows absent from the
    source are KEPT (upsert — not the full-sync overwrite, whose result
    would trivially equal the source). The output is the post-MERGE
    target with a per-row action audit column — distinguishable from
    both inputs, which is what makes the semantics checkable.
    Relationally this is one full-outer join on the merge key + a
    row-local resolver — exactly the reduce Delta/Iceberg `MERGE INTO`
    runs under the hood; at 100 TB both sides shuffle once on the key
    (or zero times if the report store is bucketed on it, the
    join_bucketed_colocated pattern)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    bounds = ev.agg(
        F.min("event_type").alias("lo"), F.max("event_type").alias("hi")
    )
    et = F.col("event_type")
    prev = (
        ev.filter((F.col("event_id") % 3 != 0) | (et >= "p"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(bounds), et != F.col("lo"))
        .select(
            F.col("event_type").alias("p_key"), F.col("n").alias("p_n")
        )
    )
    cur = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(bounds), et != F.col("hi"))
        .select(
            F.col("event_type").alias("c_key"), F.col("n").alias("c_n")
        )
    )
    merged = prev.join(
        cur, prev["p_key"] == cur["c_key"], "full_outer"
    )
    return merged.select(
        F.coalesce("c_key", "p_key").alias("event_type"),
        F.coalesce("c_n", "p_n").alias("n"),
        F.when(F.col("p_key").isNull(), "insert")
        .when(F.col("c_key").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )

import pathlib as _pathlib

_WAREHOUSE_DIR = str(
    _pathlib.Path(__file__).resolve().parents[2] / "fixtures" / "warehouse"
)


@register(
    "cat_storage_size",
    survey_row=61,
    oracle=f"""
    SELECT regexp_extract(filename, '/([a-z_]+)\\.parquet(/|$)', 1)
               AS table_name,
           count(*)         AS n_files,
           sum(size)::BIGINT AS total_bytes
    FROM read_blob(['{_WAREHOUSE_DIR}/*.parquet',
                    '{_WAREHOUSE_DIR}/*.parquet/*.parquet'])
    GROUP BY 1 ORDER BY 1
    """,
)
def cat_storage_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-size enrichment: the collector pass that feeds
    `TABLE_PARAMS.totalSize` / `numFiles` analogs by statting the
    warehouse filesystem rather than trusting stale metastore params.
    Spark-native: the `binaryFile` datasource lists and stats files
    through the Hadoop FileSystem API with a distributed
    InMemoryFileIndex — selecting only (path, length) prunes the content
    column, so no file BYTES are ever read (plan-asserted in tests) —
    then one tiny groupBy on the table name parsed from the path. At 100
    TB the same plan walks millions of files in parallel executors; this
    is the HDFS-du enrichment path a metastore collector actually runs.

    Oracle: the registered op stats the COMMITTED fixture warehouse
    (fixtures/warehouse — both layouts: single-file tables and
    directory tables with part files, plus non-parquet entries the
    glob must exclude; generator tools/make_warehouse_fixture.py),
    and DuckDB independently stats the SAME tree via read_blob — two
    engines, one filesystem, byte-exact hash compare. The live
    sf_dir-parameterized form stays as `storage_size_live` (used by
    the bench/engine tests at every scale factor)."""
    return storage_size_live(spark, _WAREHOUSE_DIR)


def storage_size_live(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Stat any warehouse tree (the production path — parameterized
    over the directory, engine-tested byte-exact vs os.stat in
    tests/test_edge_cases.py at the live fixture dirs)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(warehouse_dir)
        .select("path", "length")
    )
    # Two warehouse layouts exist: single-file tables
    # (`<dir>/lineitem.parquet`) and directory tables
    # (`<dir>/lineitem.parquet/part-00.parquet`, the multi-file shape
    # tools/make_sf10x.py writes). The table name is the LAST
    # `<name>.parquet` path component whose stem is bare [a-z_] — for
    # directory tables that is the directory (part files carry digits/
    # hyphens and never match), for single files the file itself.
    return (
        files.groupBy(
            F.regexp_extract("path", r"/([a-z_]+)\.parquet(/|$)", 1).alias(
                "table_name"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").alias("total_bytes"),
        )
        .orderBy("table_name")
    )

@register(
    "cat_scd2_apply",
    survey_row=61,
    oracle="""
    WITH incoming AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 97 <> 0
        UNION ALL
        SELECT c_custkey + 1000000 AS c_custkey, c_acctbal
        FROM customer WHERE c_custkey % 89 = 0
    ),
    diff AS (
        SELECT coalesce(cur.c_custkey, inc.c_custkey) AS c_custkey,
               CASE WHEN cur.c_custkey IS NULL THEN 'insert'
                    WHEN inc.c_custkey IS NULL THEN 'delete'
                    WHEN cur.c_acctbal <> inc.c_acctbal THEN 'update'
                    ELSE 'unchanged' END AS change_type,
               cur.c_acctbal AS old_bal,
               inc.c_acctbal AS new_bal
        FROM customer cur FULL OUTER JOIN incoming inc
          ON cur.c_custkey = inc.c_custkey
    )
    SELECT c_custkey, old_bal AS c_acctbal,
           DATE '2024-01-01' AS valid_from,
           DATE '2024-06-01' AS valid_to, FALSE AS is_current
    FROM diff WHERE change_type IN ('update', 'delete')
    UNION ALL
    SELECT c_custkey, old_bal, DATE '2024-01-01', NULL, TRUE
    FROM diff WHERE change_type = 'unchanged'
    UNION ALL
    SELECT c_custkey, new_bal, DATE '2024-06-01', NULL, TRUE
    FROM diff WHERE change_type IN ('update', 'insert')
    """,
)
def cat_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 APPLY — the maintenance step cat_scd2_diff is the
    prelude to: the classified change set is turned into the new
    slowly-changing-dimension state with validity intervals —
    updates/deletes CLOSE the old version (valid_to = batch date,
    is_current = false), updates/inserts OPEN a new current version,
    unchanged keys keep their open row. One pass over the diff: each
    row emits its 0–2 versions through a row-local array-of-structs
    explode (no re-scan per branch, unlike the oracle's triple-UNION
    shape — same rows, one join instead of three). With both
    snapshots bucketed on the business key this is the shuffle-free
    co-located merge every warehouse dimension load runs; batch/epoch
    dates are deterministic literals so both engines emit identical
    intervals."""
    cur = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    k = F.col("c_custkey")
    inc = (
        cur.filter(k % 97 != 0)
        .select(
            "c_custkey",
            F.when(k % 7 == 0, F.col("c_acctbal") + 100)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionAll(
            cur.filter(k % 89 == 0).select(
                (k + 1000000).alias("c_custkey"), "c_acctbal"
            )
        )
    )
    cur_a, inc_a = cur.alias("cur"), inc.alias("inc")
    ct = (
        F.when(F.col("cur.c_custkey").isNull(), "insert")
        .when(F.col("inc.c_custkey").isNull(), "delete")
        .when(F.col("cur.c_acctbal") != F.col("inc.c_acctbal"), "update")
        .otherwise("unchanged")
    )
    diff = cur_a.join(
        inc_a, F.col("cur.c_custkey") == F.col("inc.c_custkey"), "full"
    ).select(
        F.coalesce(F.col("cur.c_custkey"), F.col("inc.c_custkey")).alias(
            "c_custkey"
        ),
        ct.alias("change_type"),
        F.col("cur.c_acctbal").alias("old_bal"),
        F.col("inc.c_acctbal").alias("new_bal"),
    )
    d0 = F.lit("2024-01-01").cast("date")
    d1 = F.lit("2024-06-01").cast("date")
    dnull = F.lit(None).cast("date")
    ver = lambda bal, vf, vt, cur_flag: F.struct(  # noqa: E731
        F.col(bal).alias("c_acctbal"),
        vf.alias("valid_from"),
        vt.alias("valid_to"),
        F.lit(cur_flag).alias("is_current"),
    )
    versions = F.array(
        F.when(
            F.col("change_type").isin("update", "delete"),
            ver("old_bal", d0, d1, False),
        ),
        F.when(F.col("change_type") == "unchanged", ver("old_bal", d0, dnull, True)),
        F.when(
            F.col("change_type").isin("update", "insert"),
            ver("new_bal", d1, dnull, True),
        ),
    )
    return diff.select(
        "c_custkey",
        F.explode(F.filter(versions, lambda x: x.isNotNull())).alias("v"),
    ).select(
        "c_custkey",
        F.col("v.c_acctbal"),
        F.col("v.valid_from"),
        F.col("v.valid_to"),
        F.col("v.is_current"),
    )

@register(
    "cat_tx_log_snapshot",
    survey_row=61,
    oracle="""
    WITH log AS (
        SELECT event_id,
               CASE WHEN event_id % 4 = 3
                    THEN '{"v":' || (event_id % 3) ||
                         ',"remove":{"path":"part-' || (event_id % 40) ||
                         '"}}'
                    ELSE '{"v":' || (event_id % 3) ||
                         ',"add":{"path":"part-' || (event_id % 40) ||
                         '","size":' || (event_id % 1000 + 100) ||
                         ',"rows":' || (event_id % 90 + 10) || '}}'
               END AS line
        FROM events
    ),
    acts AS (
        SELECT event_id,
               CAST(json_extract(line, '$.v') AS INTEGER) AS v,
               coalesce(json_extract_string(line, '$.add.path'),
                        json_extract_string(line, '$.remove.path'))
                   AS path,
               CAST(json_extract(line, '$.add.size') AS BIGINT) AS fsize,
               CAST(json_extract(line, '$.add.rows') AS BIGINT) AS frows,
               json_extract_string(line, '$.add.path') IS NOT NULL
                   AS is_add
        FROM log
    ),
    winners AS (
        SELECT s.snap, a.path, a.is_add, a.fsize, a.frows,
               row_number() OVER (
                   PARTITION BY s.snap, a.path
                   ORDER BY a.v DESC,
                            (CASE WHEN a.is_add THEN 0 ELSE 1 END) DESC,
                            a.event_id DESC) AS rn
        FROM acts a JOIN range(0, 3) s(snap) ON a.v <= s.snap
    )
    SELECT snap::BIGINT AS snapshot_version,
           (count(*) FILTER (WHERE is_add))::BIGINT AS n_files,
           coalesce(sum(fsize) FILTER (WHERE is_add), 0)::BIGINT
               AS total_bytes,
           coalesce(sum(frows) FILTER (WHERE is_add), 0)::BIGINT
               AS total_rows
    FROM winners
    WHERE rn = 1
    GROUP BY snap
    """,
)
def cat_tx_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-format TRANSACTION-LOG snapshot resolve — the Delta/Iceberg
    metadata read a 2026-era catalog collector performs: a JSON action
    log (add-file actions carrying size/row-count stats, remove-file
    tombstones, one version stamp per action) is parsed and the LIVE
    file set plus table stats are reconstructed at each snapshot
    version. delta-spark is not installable here, so a deterministic log
    is synthesized per event in BOTH engines and the operator is the
    resolve itself: JSON path extraction (get_json_object ≡
    json_extract, all codegen), a 3-snapshot range join (versions ≤
    snapshot), and per-(snapshot, path) last-writer-wins via one max_by
    over the (version, is_remove, event_id) order struct — remove beats
    add at the same version, later event wins among adds — then a
    per-snapshot rollup of the surviving adds. Exactly the Delta
    snapshot reconstruction semantics (log replay with tombstones).
    Scale: the snapshot dim is broadcast (|versions| rows); the one real
    shuffle keys on (snapshot, path) — file-count bounded, never
    row-count bounded; stats come from the log, no data files are read.
    At 100 TB this is how you answer "how big was the table at version
    V" without touching a single parquet footer."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    line = F.when(
        eid % 4 == 3,
        F.concat(
            F.lit('{"v":'),
            (eid % 3).cast("string"),
            F.lit(',"remove":{"path":"part-'),
            (eid % 40).cast("string"),
            F.lit('"}}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"v":'),
            (eid % 3).cast("string"),
            F.lit(',"add":{"path":"part-'),
            (eid % 40).cast("string"),
            F.lit('","size":'),
            (eid % 1000 + 100).cast("string"),
            F.lit(',"rows":'),
            (eid % 90 + 10).cast("string"),
            F.lit("}}"),
        )
    )
    log = ev.select("event_id", line.alias("line"))
    acts = log.select(
        "event_id",
        F.get_json_object("line", "$.v").cast("int").alias("v"),
        F.coalesce(
            F.get_json_object("line", "$.add.path"),
            F.get_json_object("line", "$.remove.path"),
        ).alias("path"),
        F.get_json_object("line", "$.add.size").cast("long").alias("fsize"),
        F.get_json_object("line", "$.add.rows").cast("long").alias("frows"),
        F.get_json_object("line", "$.add.path").isNotNull().alias("is_add"),
    )
    snaps = spark.range(0, 3).select(F.col("id").cast("int").alias("snap"))
    winners = (
        acts.join(F.broadcast(snaps), acts["v"] <= snaps["snap"])
        .groupBy("snap", "path")
        .agg(
            F.max_by(
                F.struct("is_add", "fsize", "frows"),
                F.struct(
                    F.col("v"),
                    F.when(F.col("is_add"), 0).otherwise(1).alias("rm"),
                    F.col("event_id"),
                ),
            ).alias("w")
        )
    )
    return (
        winners.filter(F.col("w.is_add"))
        .groupBy(F.col("snap").cast("long").alias("snapshot_version"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("w.fsize").alias("total_bytes"),
            F.sum("w.frows").alias("total_rows"),
        )
    )

import pathlib as _pathlib

_DELTA_LOG_DIR = str(
    _pathlib.Path(__file__).resolve().parents[2]
    / "fixtures"
    / "delta_table"
    / "_delta_log"
)


@register(
    "cat_delta_log_replay",
    survey_row=61,
    oracle=f"""
    WITH raw AS (
        SELECT regexp_extract(filename, '(\\d{{20}})\\.json', 1)::BIGINT
                   AS v,
               line
        FROM read_csv('{_DELTA_LOG_DIR}/*.json',
                      columns={{'line': 'VARCHAR'}}, delim=chr(1),
                      quote='', header=false, filename=true)
    ),
    acts AS (
        SELECT v,
               coalesce(json_extract_string(line, '$.add.path'),
                        json_extract_string(line, '$.remove.path'))
                   AS path,
               json_extract_string(line, '$.add.path') IS NOT NULL
                   AS is_add,
               CAST(json_extract(line, '$.add.size') AS BIGINT) AS fsize,
               CAST(json_extract(
                        json_extract_string(line, '$.add.stats'),
                        '$.numRecords') AS BIGINT) AS frows
        FROM raw
        WHERE json_extract_string(line, '$.add.path') IS NOT NULL
           OR json_extract_string(line, '$.remove.path') IS NOT NULL
    ),
    ops AS (
        SELECT v, json_extract_string(line, '$.commitInfo.operation')
                   AS operation
        FROM raw
        WHERE json_extract_string(line, '$.commitInfo.operation')
              IS NOT NULL
    ),
    snaps AS (SELECT DISTINCT v AS snap FROM raw),
    winners AS (
        SELECT s.snap, a.path, a.is_add, a.fsize, a.frows,
               row_number() OVER (
                   PARTITION BY s.snap, a.path
                   ORDER BY a.v DESC,
                            (CASE WHEN a.is_add THEN 0 ELSE 1 END) DESC)
                   AS rn
        FROM acts a JOIN snaps s ON a.v <= s.snap
    )
    SELECT w.snap AS snapshot_version,
           o.operation,
           (count(*) FILTER (WHERE w.is_add))::BIGINT AS n_files,
           coalesce(sum(w.fsize) FILTER (WHERE w.is_add), 0)::BIGINT
               AS total_bytes,
           coalesce(sum(w.frows) FILTER (WHERE w.is_add), 0)::BIGINT
               AS total_rows
    FROM winners w JOIN ops o ON w.snap = o.v
    WHERE w.rn = 1
    GROUP BY w.snap, o.operation
    """,
)
def cat_delta_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-FORMAT Delta log replay — the golden-fixture twin of
    `cat_tx_log_snapshot`: that op gates the replay REDUCE on a
    synthesized log; this one pins the PARSE against the actual public
    Delta protocol, from checked-in `_delta_log/%020d.json` files
    written by hand to spec. What the spec makes the parser handle that
    the synthesized shape did not: (a) the commit VERSION is encoded in
    the file NAME, not the action (input_file_name + regexp, exactly how
    a real log reader derives it); (b) heterogeneous action lines —
    protocol / metaData / commitInfo / add / remove — share one file, so
    non-file actions must be filtered structurally, not assumed away;
    (c) per-file row counts live in `add.stats`, a JSON document
    EMBEDDED AS A STRING inside the action JSON (two-level
    get_json_object); (d) commitInfo carries the operation name joined
    back per snapshot. The replay itself is the last-writer-wins reduce
    shared with the synthesized gate: snapshots × actions range join on
    v <= snap, max_by over (version, add-beats-remove-inverted) per
    (snap, path), rollup of surviving adds. Scale: a real table's
    checkpoint parquet replaces the full-history JSON walk, but the
    per-(snap, path) reduce is identical; everything here is
    |files|-bounded — no data file is ever opened."""
    raw = (
        spark.read.text(_DELTA_LOG_DIR + "/*.json")
        .select(
            F.regexp_extract(F.input_file_name(), r"(\d{20})\.json", 1)
            .cast("long")
            .alias("v"),
            F.col("value").alias("line"),
        )
    )
    add_path = F.get_json_object("line", "$.add.path")
    rm_path = F.get_json_object("line", "$.remove.path")
    acts = raw.filter(add_path.isNotNull() | rm_path.isNotNull()).select(
        "v",
        F.coalesce(add_path, rm_path).alias("path"),
        add_path.isNotNull().alias("is_add"),
        F.get_json_object("line", "$.add.size").cast("long").alias("fsize"),
        F.get_json_object(
            F.get_json_object("line", "$.add.stats"), "$.numRecords"
        )
        .cast("long")
        .alias("frows"),
    )
    ops = raw.select(
        "v",
        F.get_json_object("line", "$.commitInfo.operation").alias(
            "operation"
        ),
    ).filter(F.col("operation").isNotNull())
    snaps = raw.select(F.col("v").alias("snap")).distinct()
    winners = (
        acts.join(F.broadcast(snaps), acts["v"] <= F.col("snap"))
        .groupBy("snap", "path")
        .agg(
            F.max_by(
                F.struct("is_add", "fsize", "frows"),
                F.struct(
                    F.col("v"),
                    F.when(F.col("is_add"), 0).otherwise(1).alias("rm"),
                ),
            ).alias("w")
        )
    )
    return (
        winners.filter(F.col("w.is_add"))
        .groupBy(F.col("snap").alias("snapshot_version"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("w.fsize").alias("total_bytes"),
            F.sum("w.frows").alias("total_rows"),
        )
        .join(
            F.broadcast(ops.withColumnRenamed("v", "snapshot_version")),
            "snapshot_version",
        )
        .select(
            "snapshot_version",
            "operation",
            "n_files",
            "total_bytes",
            "total_rows",
        )
    )

@register(
    "cat_time_travel_read",
    survey_row=61,
    oracle="""
    WITH b AS (SELECT i AS bucket FROM range(20) t(i)),
    acts AS (
        SELECT bucket, bucket % 3 AS v, TRUE AS is_add, 0 AS ord FROM b
        UNION ALL
        SELECT bucket, 2 AS v, FALSE AS is_add, 1 AS ord
        FROM b WHERE bucket % 4 = 1
    ),
    live AS (
        SELECT snap, bucket FROM (
            SELECT s.snap, a.bucket, a.is_add,
                   row_number() OVER (
                       PARTITION BY s.snap, a.bucket
                       ORDER BY a.v DESC, a.ord DESC) AS rn
            FROM acts a JOIN range(0, 3) s(snap) ON a.v <= s.snap
        ) w
        WHERE rn = 1 AND is_add
    )
    SELECT snap::BIGINT AS snapshot_version,
           count(*)::BIGINT AS n_orders,
           round(sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5)
                          AS BIGINT)) / 100.0, 2) AS total_price
    FROM orders o JOIN live l ON o.o_orderkey % 20 = l.bucket
    GROUP BY snap
    """,
)
def cat_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL READ — the second half of the table-format story
    (`cat_tx_log_snapshot` resolves metadata only; this op then READS
    the table as-of each version): a 20-partition table's action log
    (each partition added at version id%3; partitions id%4==1
    tombstoned at version 2 — one same-version remove-beats-add tie
    included) is replayed to the live partition set per snapshot, and
    the data read is PRUNED to live partitions via a broadcast semi
    structure before aggregating. Exactly how Delta/Iceberg `VERSION
    AS OF` works: log replay → file list → pruned scan. Scale: the
    resolve is |partitions|-sized and broadcast both into the range
    join and onto the fact; the fact scans ONCE (all three snapshots
    share the scan) and shuffles only the 3-group rollup — at 100 TB
    the cost is the live-partition scan, never the log."""
    b = spark.range(20).select(F.col("id").alias("bucket"))
    adds = b.select(
        "bucket",
        (F.col("bucket") % 3).alias("v"),
        F.lit(True).alias("is_add"),
        F.lit(0).alias("ord"),
    )
    removes = b.filter(F.col("bucket") % 4 == 1).select(
        "bucket",
        F.lit(2).cast("long").alias("v"),
        F.lit(False).alias("is_add"),
        F.lit(1).alias("ord"),
    )
    acts = adds.unionByName(removes)
    snaps = spark.range(0, 3).select(F.col("id").alias("snap"))
    live = (
        acts.join(F.broadcast(snaps), acts["v"] <= snaps["snap"])
        .groupBy("snap", "bucket")
        .agg(
            F.max_by("is_add", F.struct("v", "ord")).alias("alive")
        )
        .filter(F.col("alive"))
        .select("snap", "bucket")
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "bucket", F.col("o_orderkey") % 20
    )
    return (
        o.join(F.broadcast(live), "bucket")
        .groupBy(F.col("snap").cast("long").alias("snapshot_version"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # integer cents (house money convention): at sf10 the
            # pre-round double sum drifts 2 full cents between
            # engines at 10.5M rows/group
            F.round(
                F.sum(
                    F.floor(F.round("o_totalprice", 2) * 100 + 0.5).cast(
                        "long"
                    )
                )
                / 100.0,
                2,
            ).alias("total_price"),
        )
    )

@register(
    "cat_manifest_prune",
    survey_row=61,
    oracle="""
    WITH stats AS (
        SELECT date_diff('day', DATE '1995-01-01', o_orderdate) // 28
                   AS file_id,
               min(o_orderdate) AS mn,
               max(o_orderdate) AS mx,
               count(*) AS n
        FROM orders
        GROUP BY 1
    ),
    kept AS (
        SELECT * FROM stats
        WHERE mn < TIMESTAMP '1997-03-10' AND mx >= TIMESTAMP '1997-01-20'
    )
    SELECT (SELECT count(*) FROM stats)::BIGINT AS n_files,
           (SELECT count(*) FROM kept)::BIGINT AS n_files_kept,
           (SELECT sum(n) FROM kept)::BIGINT AS rows_scanned,
           (SELECT count(*) FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-20'
              AND o_orderdate < TIMESTAMP '1997-03-10')::BIGINT
               AS rows_matched
    """,
)
def cat_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX DATA SKIPPING — the manifest-stats pruning every
    lakehouse read plans with: per-file min/max column stats (files ≡
    28-day order-date clusters here, the layout a date-partitioned
    ingest produces) are intersected with the query's date range, and
    only intersecting files are scanned. The output quantifies the
    skip: files kept vs total, rows scanned (kept-file row counts)
    vs rows actually matched — the scanned/matched gap is the cost of
    boundary files, the kept/total gap is the 100 TB win (a 7-week
    predicate over 7 years of files reads ~3 of ~90 files). Stats
    build is one |files|-group agg; the prune is a filter on that
    |files|-row frame; the exact count reuses the pushed-down date
    predicate. No data-file content is touched for the plan itself —
    exactly Iceberg's manifest evaluation."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.groupBy(
        F.floor(
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            / 28
        ).alias("file_id")
    ).agg(
        F.min("o_orderdate").alias("mn"),
        F.max("o_orderdate").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    lo = F.lit("1997-01-20").cast("timestamp")
    hi = F.lit("1997-03-10").cast("timestamp")
    kept = stats.filter((F.col("mn") < hi) & (F.col("mx") >= lo))
    totals = stats.agg(F.count(F.lit(1)).alias("n_files"))
    kept_agg = kept.agg(
        F.count(F.lit(1)).alias("n_files_kept"),
        F.sum("n").alias("rows_scanned"),
    )
    matched = o.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    ).agg(F.count(F.lit(1)).alias("rows_matched"))
    return totals.join(F.broadcast(kept_agg)).join(F.broadcast(matched))

@register(
    "cat_compaction_plan",
    survey_row=61,
    oracle="""
    WITH files AS (
        SELECT 'part-' || i AS path,
               ((i * 37) % 900 + 100)::BIGINT AS bytes,
               i AS ord
        FROM range(40) t(i)
    ),
    planned AS (
        SELECT path, bytes, ord,
               (sum(bytes) OVER (ORDER BY ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NOT NULL)::INT * 0
               + coalesce(sum(bytes) OVER (ORDER BY ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // 2000 AS grp
        FROM files
    )
    SELECT grp::BIGINT AS group_id,
           count(*)::BIGINT AS n_files,
           sum(bytes)::BIGINT AS total_bytes,
           min(ord)::BIGINT AS first_file,
           max(ord)::BIGINT AS last_file
    FROM planned
    GROUP BY grp
    ORDER BY grp
    """,
)
def cat_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION planner — the other half of lakehouse
    maintenance (`cat_tx_log_snapshot` reads the log; this plans the
    rewrite): bin the sorted file listing into ~2000-byte target
    groups by EXCLUSIVE running-sum division — the deterministic
    streaming variant real compactors run over a sorted listing
    (greedy first-fit on arrival order), expressible as one window
    cumsum + integer div, no iteration. All-integer math, so the
    grouping is bit-identical across engines. Scale: the plan runs
    over the |files| manifest, never file content; one sort-window
    over a metadata-sized frame. A 100 TB table with 1M small files
    plans in seconds; executing the plan is then an
    embarrassingly-parallel per-group rewrite."""
    files = spark.range(40).select(
        F.concat(F.lit("part-"), F.col("id").cast("string")).alias("path"),
        ((F.col("id") * 37) % 900 + 100).alias("bytes"),
        F.col("id").alias("ord"),
    )
    w = (
        Window.orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = (
        files.withColumn(
            "excl_sum", F.coalesce(F.sum("bytes").over(w), F.lit(0))
        )
        .withColumn("grp", F.expr("excl_sum div 2000"))
    )
    return (
        planned.groupBy(F.col("grp").alias("group_id"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.min("ord").alias("first_file"),
            F.max("ord").alias("last_file"),
        )
        .orderBy("group_id")
    )

@register(
    "cat_table_ddl_generate",
    survey_row=62,
    oracle="""
    WITH cols AS (
        SELECT table_name, column_name,
               CASE data_type
                   WHEN 'BIGINT' THEN 'bigint'
                   WHEN 'INTEGER' THEN 'int'
                   WHEN 'VARCHAR' THEN 'string'
                   WHEN 'DOUBLE' THEN 'double'
                   WHEN 'TIMESTAMP' THEN 'timestamp'
                   WHEN 'FLOAT[]' THEN 'array<float>'
                   ELSE lower(data_type) END AS type_name,
               ordinal_position AS ordinal
        FROM information_schema.columns
        WHERE table_name IN ('region','nation','customer','supplier',
                             'part','orders','lineitem','events',
                             'documents','embeddings')
    )
    SELECT table_name,
           'CREATE TABLE ' || table_name || ' (' ||
           string_agg(column_name || ' ' || type_name, ', '
                      ORDER BY ordinal) ||
           ') STORED AS PARQUET' AS ddl,
           count(*)::BIGINT AS n_columns
    FROM cols
    GROUP BY table_name
    ORDER BY table_name
    """,
)
def cat_table_ddl_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL EXPORT — the collector feature that round-trips the catalog
    back into executable form: every table's parquet-footer schema
    becomes a `CREATE TABLE ... STORED AS PARQUET` statement with
    columns in ORDINAL order (collect structs → array_sort on the
    ordinal → transform to "name type" → concat_ws — the
    deterministic ordered-string-agg idiom, since Spark's collect
    order is never trusted). The oracle rebuilds the identical DDL
    from DuckDB's information_schema, so the two engines must agree
    on every column name, type spelling, and position — a full
    schema-fidelity check disguised as an export feature. Metadata-
    sized end to end."""
    from hive_metadata_collect_spark.catalog.stats import (
        cat_schema_inventory,
    )

    inv = cat_schema_inventory(spark, sf_dir)
    return (
        inv.groupBy("table_name")
        .agg(
            F.concat(
                F.lit("CREATE TABLE "),
                F.col("table_name"),
                F.lit(" ("),
                F.concat_ws(
                    ", ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "ordinal", "column_name", "type_name"
                                )
                            )
                        ),
                        lambda s: F.concat_ws(
                            " ", s["column_name"], s["type_name"]
                        ),
                    ),
                ),
                F.lit(") STORED AS PARQUET"),
            ).alias("ddl"),
            F.count(F.lit(1)).alias("n_columns"),
        )
        .orderBy("table_name")
    )

@register(
    "cat_parquet_footer_stats",
    survey_row=61,
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows_footer FROM {t}"
        for t in TABLES
    ),
)
def cat_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOOTER-ONLY row counts — the collector's cheapest statistic:
    every parquet footer carries its row count, so table cardinality
    costs one metadata read per file, zero data pages. File paths are
    listed driver-side (bounded: one entry per data file) and the
    footer reads fan out through mapInPandas — at a million files
    that's the same partition-parallel metadata sweep, never a
    driver loop over footers. The oracle states the invariant that
    makes this trustworthy: footer sums MUST equal count(*) — a
    mismatch means a corrupt footer or a miscounting reader.
    tests/test_edge_cases.py additionally cross-checks row-group
    counts against DuckDB's parquet_metadata() on the same files
    (two independent footer parsers agreeing)."""
    import glob as _glob
    from collections.abc import Iterator

    import pandas as pd

    paths = []
    for t in TABLES:
        base = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(base):
            for pth in sorted(_glob.glob(os.path.join(base, "*.parquet"))):
                paths.append((t, pth))
        else:
            paths.append((t, base))
    files = spark.createDataFrame(paths, "table_name string, path string")

    def read_footers(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in it:
            rows = []
            for tname, pth in zip(pdf["table_name"], pdf["path"]):
                md = pq.ParquetFile(pth).metadata
                rows.append({"table_name": tname, "n": md.num_rows})
            yield pd.DataFrame(rows)

    footer = files.repartition(8).mapInPandas(
        read_footers, schema="table_name string, n long"
    )
    return footer.groupBy("table_name").agg(
        F.sum("n").alias("n_rows_footer")
    )

@register(
    "cat_partition_retention_plan",
    survey_row=63,
    oracle="""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n_rows,
               CAST(sum(length(props)) AS BIGINT) AS payload_bytes
        FROM events GROUP BY 1
    ), wm AS (SELECT max(day) AS max_day FROM d)
    SELECT d.day, d.n_rows, d.payload_bytes,
           CASE WHEN d.day < wm.max_day - INTERVAL 20 DAY
                THEN 'drop' ELSE 'keep' END AS action
    FROM d, wm
    """,
)
def cat_partition_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/TTL planner — the nightly job that turns a
    retention policy ("keep 20 days") into a concrete DROP PARTITION
    list with the reclaim accounting (rows + payload bytes per
    partition) attached. The watermark is DERIVED from the data
    (max ingested day), not wall clock, so the plan is reproducible
    and the gate deterministic; real deployments swap in
    current_date at the same spot.

    One |days|-group aggregate over the partition column + a
    broadcast scalar watermark — the per-day stats frame is metadata-
    sized at any scale, and in a partitioned layout the same numbers
    come from partition listing alone (cat_partition_listing), no
    data scan at all."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("props")).alias("payload_bytes"),
    )
    wm = d.agg(F.max("day").alias("max_day"))
    return d.crossJoin(F.broadcast(wm)).select(
        "day",
        "n_rows",
        "payload_bytes",
        F.when(
            F.col("day") < F.date_sub(F.col("max_day"), 20), "drop"
        )
        .otherwise("keep")
        .alias("action"),
    )

@register(
    "cat_vacuum_plan",
    survey_row=61,
    oracle="""
    WITH acts AS (
        SELECT event_id,
               event_id % 3 AS v,
               'part-' || (event_id % 37) AS path,
               event_id % 4 <> 3 AS is_add,
               CASE WHEN event_id % 4 <> 3
                    THEN event_id % 1000 + 100 END AS fsize
        FROM events
    ),
    winners AS (
        SELECT s.snap, a.path, a.is_add,
               row_number() OVER (
                   PARTITION BY s.snap, a.path
                   ORDER BY a.v DESC, a.event_id DESC) AS rn
        FROM acts a JOIN range(1, 3) s(snap) ON a.v <= s.snap
    ),
    liveness AS (
        SELECT path, bool_or(is_add) AS live_any
        FROM winners WHERE rn = 1 GROUP BY path
    ),
    reclaim AS (
        SELECT path,
               max_by(fsize, v * 10000000 + event_id)
                   FILTER (WHERE is_add) AS reclaim_bytes,
               max(v) FILTER (WHERE NOT is_add) AS last_remove_v
        FROM acts GROUP BY path
    )
    SELECT l.path,
           r.reclaim_bytes::BIGINT AS reclaim_bytes,
           r.last_remove_v::BIGINT AS last_remove_v
    FROM liveness l JOIN reclaim r ON l.path = r.path
    WHERE NOT l.live_any
    """,
)
def cat_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planner — the garbage-collection pass that completes
    the table-format suite (`cat_tx_log_snapshot` resolves snapshots,
    `cat_time_travel_read` reads one, this op decides which data
    files are safe to physically delete): with a retention policy of
    "keep snapshots 1..2", a file is reclaimable iff NO retained
    snapshot resolves it as live — i.e. at every retained version the
    last-writer-wins replay lands on a remove tombstone. Reclaimed
    bytes are the size of the file's final add action (the bytes on
    disk); the last remove version documents when it died.

    Same deterministic action log as the snapshot ops (synthesized
    per event in BOTH engines; path domain co-prime with the
    version/tombstone moduli so adds and removes genuinely interleave
    per path). Plan shape: broadcast |retained-snapshots| range join,
    one (snap, path) shuffle for the winner resolve (file-count
    bounded), a |paths| liveness rollup, and a second |paths|-sized
    agg for the reclaim accounting — no data files are ever opened.
    At 100 TB the vacuum decision reads only the log, exactly like
    Delta's VACUUM dry run."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    acts = ev.select(
        "event_id",
        (eid % 3).alias("v"),
        F.concat(F.lit("part-"), (eid % 37).cast("string")).alias("path"),
        (eid % 4 != 3).alias("is_add"),
        F.when(eid % 4 != 3, eid % 1000 + 100).alias("fsize"),
    )
    snaps = spark.range(1, 3).select(F.col("id").cast("int").alias("snap"))
    winners = (
        acts.join(F.broadcast(snaps), acts["v"] <= snaps["snap"])
        .groupBy("snap", "path")
        .agg(
            F.max_by(
                F.col("is_add"), F.struct(F.col("v"), F.col("event_id"))
            ).alias("live")
        )
    )
    liveness = winners.groupBy("path").agg(F.max("live").alias("live_any"))
    reclaim = acts.groupBy("path").agg(
        F.expr(
            "max_by(fsize, v * 10000000 + event_id) FILTER (WHERE is_add)"
        ).alias("reclaim_bytes"),
        F.max(F.when(~F.col("is_add"), F.col("v")))
        .cast("long")
        .alias("last_remove_v"),
    )
    return (
        liveness.filter(~F.col("live_any"))
        .join(reclaim, "path")
        .select("path", "reclaim_bytes", "last_remove_v")
    )

@register(
    "cat_bloom_skip_index",
    survey_row=63,
    oracle="""
    WITH rows_ AS (
        SELECT user_id % 8 AS part,
               'e' || (event_id % 500) AS entity
        FROM events
    ),
    slotted AS (
        SELECT part, entity,
               CAST(('0x' || substr(md5('b0:' || entity), 1, 8)) AS BIGINT)
                   % 60 AS s0,
               CAST(('0x' || substr(md5('b1:' || entity), 1, 8)) AS BIGINT)
                   % 60 AS s1
        FROM rows_
    ),
    blooms AS (
        SELECT part,
               bit_or((1::BIGINT << s0) | (1::BIGINT << s1)) AS bitmap
        FROM slotted GROUP BY part
    ),
    probes AS (
        SELECT 'e' || (i * 97) AS probe,
               CAST(('0x' || substr(md5('b0:' || ('e' || (i * 97))), 1, 8))
                    AS BIGINT) % 60 AS p0,
               CAST(('0x' || substr(md5('b1:' || ('e' || (i * 97))), 1, 8))
                    AS BIGINT) % 60 AS p1
        FROM range(10) t(i)
    ),
    scanned AS (
        SELECT p.probe, b.part
        FROM probes p JOIN blooms b
          ON (b.bitmap & (1::BIGINT << p.p0)) <> 0
         AND (b.bitmap & (1::BIGINT << p.p1)) <> 0
    ),
    actual AS (
        SELECT DISTINCT entity AS probe, part FROM rows_
    )
    SELECT s.probe,
           count(*)::BIGINT AS n_scanned,
           count(a.part)::BIGINT AS n_actual,
           (count(*) - count(a.part))::BIGINT AS n_false_pos
    FROM scanned s
    LEFT JOIN actual a ON a.probe = s.probe AND a.part = s.part
    GROUP BY s.probe
    """,
)
def cat_bloom_skip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER skip index — the per-partition membership summary
    a collector maintains so point lookups skip partitions without
    opening them (the blob-valued cousin of `cat_manifest_prune`'s
    min/max skipping; Parquet bloom filters and Delta's bloom index
    are this exact structure): one 60-bit bitmap per partition, two
    md5-derived hash slots per value, probe = both bits set. Emits,
    per probe key, partitions scanned (bloom says maybe) vs
    partitions actually containing it — the false-positive overhead
    is the quantity you size the filter by (here deliberately tiny,
    60 bits for ~hundreds of distinct values, so FPs are visible
    and the accounting provable).

    Build = one bit_or aggregate into |partitions| rows — the
    mergeable-summary shape again (executors OR local bitmaps;
    a 100 TB table's whole index is |partitions|×8 bytes). Probes
    and blooms are both metadata-sized, so the probe join
    broadcasts; the only corpus-sized step is the map-side slot
    computation feeding the bit_or."""
    ev = load_table(spark, sf_dir, "events")
    rows_ = ev.select(
        (F.col("user_id") % 8).alias("part"),
        F.concat(F.lit("e"), (F.col("event_id") % 500).cast("string")).alias(
            "entity"
        ),
    )

    def slot(prefix: str, col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 8), 16, 10
            ).cast("long")
            % 60
        )

    slotted = rows_.select(
        "part",
        "entity",
        slot("b0:", F.col("entity")).alias("s0"),
        slot("b1:", F.col("entity")).alias("s1"),
    )
    blooms = slotted.groupBy("part").agg(
        F.expr("bit_or(shiftleft(1L, s0) | shiftleft(1L, s1))").alias("bitmap")
    )
    probes = spark.range(10).select(
        F.concat(F.lit("e"), (F.col("id") * 97).cast("string")).alias("probe")
    )
    probes = probes.select(
        "probe",
        slot("b0:", F.col("probe")).alias("p0"),
        slot("b1:", F.col("probe")).alias("p1"),
    )
    scanned = blooms.join(
        F.broadcast(probes),
        (
            F.expr("bitmap & shiftleft(1L, p0)") != 0
        )
        & (F.expr("bitmap & shiftleft(1L, p1)") != 0),
    ).select("probe", "part")
    actual = rows_.distinct().withColumnRenamed("entity", "probe")
    return (
        scanned.join(F.broadcast(actual.withColumn("hit", F.lit(1))),
                     ["probe", "part"], "left_outer")
        .groupBy("probe")
        .agg(
            F.count(F.lit(1)).alias("n_scanned"),
            F.count("hit").alias("n_actual"),
            (F.count(F.lit(1)) - F.count("hit")).alias("n_false_pos"),
        )
    )

@register(
    "cat_orphan_files",
    survey_row=61,
    oracle="""
    WITH listing AS (
        SELECT 'part-' || i AS path,
               (i * 131) % 5000 + 64 AS fsize
        FROM range(50) t(i)
    ),
    referenced AS (
        SELECT DISTINCT 'part-' || (event_id % 37) AS path
        FROM events
    )
    SELECT l.path, l.fsize::BIGINT AS fsize
    FROM listing l
    LEFT JOIN referenced r ON r.path = l.path
    WHERE r.path IS NULL
    """,
)
def cat_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORPHAN-file detection — the inverse of `cat_vacuum_plan`
    (vacuum deletes files the log says are dead; this op finds files
    the log never knew about: crashed-writer leftovers, aborted
    compactions, manual copies — what Delta's VACUUM full-listing
    phase actually reconciles): storage listing ANTI-JOIN the
    transaction log's referenced-path set, emitting each orphan with
    its reclaimable size. The listing (50 paths, deterministic
    sizes) extends past the log's 37-path domain, so exactly the
    13-path tail is orphaned — the assertion is structural, not
    incidental.

    Both inputs are file-count-bounded metadata: the referenced set
    is one DISTINCT over log paths; the anti-join broadcasts it. At
    100 TB the expensive half is the object-store LIST, not this
    plan — which is why the reconcile must be metadata-only, and
    is."""
    ev = load_table(spark, sf_dir, "events")
    listing = spark.range(50).select(
        F.concat(F.lit("part-"), F.col("id").cast("string")).alias("path"),
        ((F.col("id") * 131) % 5000 + 64).alias("fsize"),
    )
    referenced = ev.select(
        F.concat(F.lit("part-"), (F.col("event_id") % 37).cast("string")).alias(
            "path"
        )
    ).distinct()
    return (
        listing.join(F.broadcast(referenced), "path", "left_anti")
        .select("path", F.col("fsize").cast("long").alias("fsize"))
    )

@register(
    "cat_msck_repair_plan",
    survey_row=63,
    oracle="""
    WITH on_disk AS (
        SELECT DISTINCT event_type AS dt_type,
               CAST(date_trunc('day', ts) AS DATE) AS dt_day
        FROM events
    ),
    registered AS (
        SELECT dt_type, dt_day FROM on_disk
        WHERE CAST(('0x' || substr(md5(dt_type || '/' || dt_day), 1, 8))
                   AS BIGINT) % 5 <> 0
    )
    SELECT d.dt_type, d.dt_day,
           'ALTER TABLE audit_log ADD PARTITION (event_type=''' ||
               d.dt_type || ''', day=''' || d.dt_day || ''')' AS ddl
    FROM on_disk d
    LEFT JOIN registered r
      ON r.dt_type = d.dt_type AND r.dt_day = d.dt_day
    WHERE r.dt_type IS NULL
    """,
)
def cat_msck_repair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSCK REPAIR TABLE as a plan — Hive's partition-discovery
    repair (the single most-run maintenance command against a real
    metastore): directories that exist on storage but have no
    PARTITIONS row get an ADD PARTITION statement generated. On-disk
    partitions derive from the data's own (type, day) combinations;
    the registered set deterministically drops an md5-selected ~20 %
    (the same seeded-gap technique as the PII scan's controls), so
    the anti-join provably recovers exactly the missing ones, and
    the emitted DDL strings are hash-gated — format drift in the
    generator breaks the gate, the same discipline as
    cat_table_ddl_generate.

    Both sides of the anti-join are |partitions|-sized metadata
    after one DISTINCT over the partition columns (at 100 TB this
    comes from the storage LISTING, not a data scan — the same
    boundary cat_partition_listing documents); the repair plan
    itself broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    on_disk = ev.select(
        F.col("event_type").alias("dt_type"),
        F.col("ts").cast("date").alias("dt_day"),
    ).distinct()
    gap = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("dt_type"),
                        F.lit("/"),
                        F.col("dt_day").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 5
        == 0
    )
    registered = on_disk.filter(~gap)
    return (
        on_disk.join(F.broadcast(registered), ["dt_type", "dt_day"], "left_anti")
        .select(
            "dt_type",
            "dt_day",
            F.concat(
                F.lit("ALTER TABLE audit_log ADD PARTITION (event_type='"),
                F.col("dt_type"),
                F.lit("', day='"),
                F.col("dt_day").cast("string"),
                F.lit("')"),
            ).alias("ddl"),
        )
    )

@register(
    "cat_bitemporal_asof",
    survey_row=62,
    oracle="""
    WITH versions AS (
        SELECT event_id % 20 AS key,
               event_id % 3 AS valid_from,
               event_id % 3 + 1 + event_id % 2 AS valid_to,
               event_id % 5 AS tx_from,
               CASE WHEN event_id % 4 = 1 THEN event_id % 5 + 2
                    ELSE 99 END AS tx_to,
               event_id AS payload
        FROM events
    )
    SELECT key::BIGINT AS key,
           max(payload)::BIGINT AS payload,
           count(*)::BIGINT AS n_visible_versions
    FROM versions
    WHERE valid_from <= 2 AND 2 < valid_to
      AND tx_from <= 3 AND 3 < tx_to
    GROUP BY key
    """,
)
def cat_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL point query — the two-axis time model auditors
    require and `cat_scd2_diff`'s single valid-time axis cannot
    answer: "what did we BELIEVE on tx-time 3 about the state of
    key K at valid-time 2?" Valid time is when the fact was true in
    the world; transaction time is when the warehouse knew it — a
    late correction changes tx-time history but rewrites nothing.
    Each version row carries both intervals (synthesized with open
    tx_to = 99 for still-current beliefs and seeded superseded
    rows); the as-of query is two half-open containment filters and
    a per-key reduce (max payload = latest correction among visible
    versions, plus the visible-version count the audit report
    shows).

    Filters push to the scan on both interval columns; no join at
    all — the bitemporal resolve is a filter + group, which is why
    warehouses can afford it at any scale."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    versions = ev.select(
        (eid % 20).alias("key"),
        (eid % 3).alias("valid_from"),
        (eid % 3 + 1 + eid % 2).alias("valid_to"),
        (eid % 5).alias("tx_from"),
        F.when(eid % 4 == 1, eid % 5 + 2).otherwise(99).alias("tx_to"),
        eid.alias("payload"),
    )
    return (
        versions.filter(
            (F.col("valid_from") <= 2)
            & (F.lit(2) < F.col("valid_to"))
            & (F.col("tx_from") <= 3)
            & (F.lit(3) < F.col("tx_to"))
        )
        .groupBy(F.col("key").cast("long").alias("key"))
        .agg(
            F.max("payload").cast("long").alias("payload"),
            F.count(F.lit(1)).alias("n_visible_versions"),
        )
    )

@register(
    "cat_erasure_plan",
    survey_row=62,
    oracle="""
    WITH subject AS (SELECT 7 AS uid),
    hits AS (
        SELECT 'events' AS table_name,
               'day=' || CAST(date_trunc('day', ts) AS DATE) AS partition_id,
               count(*) AS n_rows
        FROM events, subject WHERE user_id = uid
        GROUP BY 2
        UNION ALL
        SELECT 'orders',
               'month=' || CAST(date_trunc('month', o_orderdate) AS DATE),
               count(*)
        FROM orders, subject WHERE o_custkey = uid
        GROUP BY 2
        UNION ALL
        SELECT 'customer', 'unpartitioned', count(*)
        FROM customer, subject WHERE c_custkey = uid
        HAVING count(*) > 0
    )
    SELECT table_name, partition_id, n_rows::BIGINT AS n_rows,
           sum(n_rows) OVER (PARTITION BY table_name)::BIGINT
               AS table_total,
           count(*) OVER (PARTITION BY table_name)::BIGINT
               AS partitions_to_rewrite
    FROM hits
    """,
)
def cat_erasure_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR ERASURE plan — right-to-be-forgotten turned into the
    concrete work list a platform team executes: for one data
    subject, every (table, partition) holding their rows, with row
    counts and the per-table rewrite scope (each listed partition
    must be rewritten — that count IS the cost model for
    copy-on-write tables; with deletion vectors it becomes the
    DV-write count instead, same plan). Subject key 7 spans all
    three key domains by construction; empty tables drop out via
    HAVING on both sides.

    Each per-table probe is a pushed-down point predicate + a
    partition-grain rollup — at 100 TB the scan side is
    partition-pruned (or bloom-skipped, cat_bloom_skip_index) and
    the plan output is partitions-holding-the-subject sized, i.e.
    tiny. The window totals run over that tiny frame."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    uid = 7
    hits = (
        ev.filter(F.col("user_id") == uid)
        .groupBy(
            F.concat(
                F.lit("day="), F.col("ts").cast("date").cast("string")
            ).alias("partition_id")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit("events").alias("table_name"), "partition_id", "n_rows")
        .unionAll(
            o.filter(F.col("o_custkey") == uid)
            .groupBy(
                F.concat(
                    F.lit("month="),
                    F.trunc("o_orderdate", "month").cast("string"),
                ).alias("partition_id")
            )
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit("orders").alias("table_name"), "partition_id", "n_rows")
        )
        .unionAll(
            c.filter(F.col("c_custkey") == uid)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .filter(F.col("n_rows") > 0)
            .select(
                F.lit("customer").alias("table_name"),
                F.lit("unpartitioned").alias("partition_id"),
                "n_rows",
            )
        )
    )
    w = Window.partitionBy("table_name")
    return hits.select(
        "table_name",
        "partition_id",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.sum("n_rows").over(w).cast("long").alias("table_total"),
        F.count(F.lit(1)).over(w).cast("long").alias("partitions_to_rewrite"),
    )

@register(
    "cat_scd2_repair",
    survey_row=62,
    oracle="""
    WITH dirty AS (
        SELECT event_id % 25 AS key,
               event_id AS version_id,
               CAST(date_trunc('day', ts) AS DATE) AS valid_from,
               CAST(date_trunc('day', ts) AS DATE)
                   + INTERVAL (3 + event_id % 10) DAY AS valid_to
        FROM events WHERE event_id % 6 = 0
    ),
    repaired AS (
        SELECT key, version_id, valid_from,
               CAST(valid_to AS DATE) AS valid_to_orig,
               lead(valid_from) OVER (PARTITION BY key
                   ORDER BY valid_from, version_id) AS next_from
        FROM dirty
    )
    SELECT key::BIGINT AS key, version_id,
           valid_from,
           least(valid_to_orig, coalesce(next_from, valid_to_orig))
               AS valid_to,
           (next_from IS NOT NULL AND next_from < valid_to_orig)
               AS was_clipped,
           (next_from IS NOT NULL AND next_from = valid_from)
               AS zero_duration
    FROM repaired
    """,
)
def cat_scd2_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity-interval REPAIR — the hygiene pass that makes
    `cat_scd2_diff`/`cat_scd2_apply` trustworthy on real metastores
    (hand-edited dimension rows and replayed loads leave OVERLAPPING
    validity windows, and every as-of join over them silently
    double-matches): within each key's version chain, clip every
    interval's end to the next version's start (lead over the
    validity order), flagging clipped rows and the zero-duration
    degenerates (same-day supersedes) that auditors review rather
    than auto-delete. Dirty intervals are synthesized with
    deliberately-overlapping spans (duration outruns the version
    spacing).

    One lead() per key partition — the same islands idiom as
    sequence gaps, applied to interval hygiene; clip is a least()
    against the shifted start. At metastore scale this is
    \\|versions\\|-sized work."""
    ev = load_table(spark, sf_dir, "events")
    dirty = ev.filter(F.col("event_id") % 6 == 0).select(
        (F.col("event_id") % 25).alias("key"),
        F.col("event_id").alias("version_id"),
        F.col("ts").cast("date").alias("valid_from"),
        F.date_add(
            F.col("ts").cast("date"), (3 + F.col("event_id") % 10).cast("int")
        ).alias("valid_to_orig"),
    )
    w = Window.partitionBy("key").orderBy("valid_from", "version_id")
    repaired = dirty.withColumn(
        "next_from", F.lead("valid_from").over(w)
    )
    return repaired.select(
        F.col("key").cast("long").alias("key"),
        "version_id",
        "valid_from",
        F.least(
            F.col("valid_to_orig"),
            F.coalesce("next_from", "valid_to_orig"),
        ).alias("valid_to"),
        (
            F.col("next_from").isNotNull()
            & (F.col("next_from") < F.col("valid_to_orig"))
        ).alias("was_clipped"),
        (
            F.col("next_from").isNotNull()
            & (F.col("next_from") == F.col("valid_from"))
        ).alias("zero_duration"),
    )

@register(
    "cat_partition_path_codec",
    survey_row=63,
    oracle="""
    WITH parts AS (
        SELECT event_id,
               CASE WHEN event_id % 13 = 4 THEN NULL
                    ELSE 'team ' || (event_id % 7) || '/x' END AS team,
               CAST(date_trunc('day', ts) AS DATE) AS dt
        FROM events WHERE event_id % 9 = 0
    ),
    encoded AS (
        SELECT event_id, team, dt,
               'team=' ||
               coalesce(replace(replace(replace(team, '%', '%25'),
                                        '/', '%2F'), ' ', '%20'),
                        '__HIVE_DEFAULT_PARTITION__')
               || '/dt=' || dt AS path
        FROM parts
    )
    SELECT event_id, path,
           CASE WHEN regexp_extract(path, 'team=([^/]*)', 1)
                     = '__HIVE_DEFAULT_PARTITION__' THEN NULL
                ELSE replace(replace(replace(
                         regexp_extract(path, 'team=([^/]*)', 1),
                         '%20', ' '), '%2F', '/'), '%25', '%')
           END AS team_decoded,
           CAST(regexp_extract(path, 'dt=([0-9-]+)', 1) AS DATE)
               AS dt_decoded,
           (CASE WHEN regexp_extract(path, 'team=([^/]*)', 1)
                      = '__HIVE_DEFAULT_PARTITION__' THEN NULL
                 ELSE replace(replace(replace(
                          regexp_extract(path, 'team=([^/]*)', 1),
                          '%20', ' '), '%2F', '/'), '%25', '%')
            END IS NOT DISTINCT FROM team) AS roundtrip_ok
    FROM encoded
    """,
)
def cat_partition_path_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIVE partition-path CODEC — the encoding contract every
    metastore tool must honor byte-for-byte (partition VALUES
    become directory NAMES: special characters percent-escape with
    %25 escaped FIRST on encode and LAST on decode — the order is
    the bug farm — and NULL becomes the literal
    `__HIVE_DEFAULT_PARTITION__` sentinel): values with spaces,
    slashes, and NULLs round-trip through encode → path →
    regexp-decode, with the null-safe roundtrip_ok comparison
    (`<=>`) gated — a codec that drops the escape ordering or
    conflates NULL with the sentinel string breaks the hash.

    Map-only string codegen; this is the exact transform
    cat_partition_listing and MSCK-style discovery sit on top
    of."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    parts = ev.filter(eid % 9 == 0).select(
        "event_id",
        F.when(
            eid % 13 == 4, F.lit(None).cast("string")
        ).otherwise(
            F.concat(F.lit("team "), (eid % 7).cast("string"), F.lit("/x"))
        ).alias("team"),
        F.col("ts").cast("date").alias("dt"),
    )
    enc = F.concat(
        F.lit("team="),
        F.coalesce(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("team"), "%", "%25"), "/", "%2F"
                ),
                " ",
                "%20",
            ),
            F.lit("__HIVE_DEFAULT_PARTITION__"),
        ),
        F.lit("/dt="),
        F.col("dt").cast("string"),
    )
    encoded = parts.select("event_id", "team", "dt", enc.alias("path"))
    raw = F.regexp_extract("path", "team=([^/]*)", 1)
    dec = F.when(
        raw == "__HIVE_DEFAULT_PARTITION__", F.lit(None).cast("string")
    ).otherwise(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(raw, "%20", " "), "%2F", "/"
            ),
            "%25",
            "%",
        )
    )
    return encoded.select(
        "event_id",
        "path",
        dec.alias("team_decoded"),
        F.regexp_extract("path", "dt=([0-9-]+)", 1)
        .cast("date")
        .alias("dt_decoded"),
        dec.eqNullSafe(F.col("team")).alias("roundtrip_ok"),
    )

@register(
    "cat_rle_compressibility",
    survey_row=62,
    oracle="""
    WITH natural_runs AS (
        SELECT count(*) + 1 AS n_rows,
               1 + count(*) FILTER (WHERE changed) AS runs
        FROM (
            SELECT o_orderstatus <> lag(o_orderstatus) OVER (
                       ORDER BY o_orderkey) AS changed
            FROM orders
        ) t WHERE changed IS NOT NULL
    ),
    sorted_runs AS (
        SELECT 1 + count(*) FILTER (WHERE changed) AS runs
        FROM (
            SELECT o_orderstatus <> lag(o_orderstatus) OVER (
                       ORDER BY o_orderstatus, o_orderkey) AS changed
            FROM orders
        ) t WHERE changed IS NOT NULL
    )
    SELECT 'o_orderstatus' AS column_name,
           n.n_rows::BIGINT AS n_rows,
           n.runs::BIGINT AS natural_runs,
           s.runs::BIGINT AS sorted_runs,
           round(n.runs * 1.0 / s.runs, 2) AS sort_benefit_x
    FROM natural_runs n, sorted_runs s
    """,
)
def cat_rle_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLE COMPRESSIBILITY probe — the storage-advisor measurement
    behind "sort this table by X before writing" (parquet
    run-length/dictionary encoding compresses RUNS; a low-card
    column scattered by insertion order encodes near row-count
    runs, the same column sorted encodes |distinct| runs — often a
    10-100× size difference on the encoded pages): run counts for
    the status column under natural order vs sorted order, and
    their ratio IS the advisor's expected benefit multiplier for
    adding it to the write sort key (`sink_cluster_zorder`'s
    single-column cousin).

    Runs count as value-change events via one lag() per ordering —
    the natural-order pass rides the existing key sort, the sorted
    pass is the one extra sort the measurement is ABOUT; both
    reduce to 2-row frames. At scale the sorted-run count is
    |distinct| by definition (no second sort needed — countDistinct
    suffices), which is exactly how the advisor runs it; the
    explicit two-pass form here makes the gate self-verifying."""
    o = load_table(spark, sf_dir, "orders")

    def runs(order_cols):
        w = Window.orderBy(*order_cols)
        changed = (
            F.col("o_orderstatus") != F.lag("o_orderstatus").over(w)
        ).alias("changed")
        t = o.select(changed).filter(F.col("changed").isNotNull())
        return t.agg(
            F.count(F.lit(1)).alias("n_nonfirst"),
            (1 + F.count(F.when(F.col("changed"), 1))).alias("runs"),
        )

    nat = runs(["o_orderkey"]).select(
        (F.col("n_nonfirst") + 1).alias("n_rows"),
        F.col("runs").alias("natural_runs"),
    )
    srt = runs(["o_orderstatus", "o_orderkey"]).select(
        F.col("runs").alias("sorted_runs")
    )
    return nat.crossJoin(srt).select(
        F.lit("o_orderstatus").alias("column_name"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("natural_runs").cast("long").alias("natural_runs"),
        F.col("sorted_runs").cast("long").alias("sorted_runs"),
        F.round(F.col("natural_runs") / F.col("sorted_runs"), 2).alias(
            "sort_benefit_x"
        ),
    )

_ICEBERG_META_DIR = str(
    _pathlib.Path(__file__).resolve().parents[2]
    / "fixtures"
    / "iceberg_table"
    / "metadata"
)

_ICEBERG_SNAP_SCHEMA = (
    "array<struct<`snapshot-id`:bigint,`parent-snapshot-id`:bigint,"
    "`sequence-number`:bigint,`timestamp-ms`:bigint,"
    "summary:map<string,string>,`manifest-list`:string,"
    "`schema-id`:bigint>>"
)


@register(
    "cat_iceberg_metadata_replay",
    survey_row=61,
    oracle=f"""
    WITH raw AS (
        SELECT content AS line,
               regexp_extract(filename, 'v(\\d+)\\.metadata\\.json', 1)
                   ::BIGINT AS v
        FROM read_text('{_ICEBERG_META_DIR}/*.metadata.json')
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
    )
    SELECT (s->>'snapshot-id')::BIGINT AS snapshot_id,
           (s->>'parent-snapshot-id')::BIGINT AS parent_id,
           (s->>'sequence-number')::BIGINT AS sequence_number,
           s->'summary'->>'operation' AS operation,
           (s->'summary'->>'added-records')::BIGINT AS added_records,
           (s->'summary'->>'deleted-records')::BIGINT AS deleted_records,
           (sum((s->'summary'->>'added-records')::BIGINT
                - (s->'summary'->>'deleted-records')::BIGINT)
              OVER (ORDER BY (s->>'sequence-number')::BIGINT
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               )::BIGINT
               AS net_records_cum,
           (s->>'snapshot-id')::BIGINT = cur AS is_current,
           (s->>'schema-id')::BIGINT AS schema_id
    FROM snaps
    """,
)
def cat_iceberg_metadata_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-format Apache Iceberg table-metadata replay — the Iceberg
    twin of cat_delta_log_replay, over a checked-in spec-conformant
    `metadata/v{{N}}.metadata.json` lineage (format-version 2: schemas
    with ids, snapshots with sequence numbers, parent chain, STRING
    summary counters per the spec, snapshot-log): resolve the LATEST
    metadata version from the file name (Iceberg metadata files are
    self-contained supersets — the version-hint resolution rule),
    explode its snapshot list, and emit the commit history with
    per-snapshot operation, record deltas, the running net record
    count along the sequence-number order, and the current-snapshot
    flag.

    Parsing is the Delta twin's architecture adapted to Iceberg's
    file shape: real v{{N}}.metadata.json files are PRETTY-PRINTED
    multi-line JSON (one document per file, not NDJSON), so the read
    is spark.read.text(wholetext=True) — one row per FILE — plus an
    input_file_name() version regex, then ONE from_json against an
    explicit snapshot-array schema (dashes in Iceberg's field names
    make schema-by-DDL with backticks the precise tool; summary is a
    map<string,string> exactly as the spec types it); the oracle
    mirrors with DuckDB read_text() (whole-file, not read_csv).
    Metadata files are few by construction (one per commit,
    compacted), so the global max-version window is a metadata-sized
    operation; the DATA-side scale lives in manifests, which need
    Avro — named as the boundary, not faked."""
    raw = spark.read.text(
        _ICEBERG_META_DIR + "/*.metadata.json", wholetext=True
    ).select(
        "value",
        F.regexp_extract(
            F.input_file_name(), r"v(\d+)\.metadata\.json", 1
        )
        .cast("long")
        .alias("v"),
    )
    latest = (
        raw.withColumn("maxv", F.max("v").over(Window.partitionBy()))
        .filter(F.col("v") == F.col("maxv"))
    )
    snaps = latest.select(
        F.explode(
            F.from_json(
                F.get_json_object("value", "$.snapshots"),
                _ICEBERG_SNAP_SCHEMA,
            )
        ).alias("s"),
        F.get_json_object("value", "$['current-snapshot-id']")
        .cast("long")
        .alias("cur"),
    )
    net = F.col("s.summary")["added-records"].cast("long") - F.col(
        "s.summary"
    )["deleted-records"].cast("long")
    w = Window.orderBy(F.col("s.`sequence-number`")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return snaps.select(
        F.col("s.`snapshot-id`").alias("snapshot_id"),
        F.col("s.`parent-snapshot-id`").alias("parent_id"),
        F.col("s.`sequence-number`").alias("sequence_number"),
        F.col("s.summary")["operation"].alias("operation"),
        F.col("s.summary")["added-records"].cast("long").alias("added_records"),
        F.col("s.summary")["deleted-records"]
        .cast("long")
        .alias("deleted_records"),
        F.sum(net).over(w).alias("net_records_cum"),
        (F.col("s.`snapshot-id`") == F.col("cur")).alias("is_current"),
        F.col("s.`schema-id`").alias("schema_id"),
    )

@register(
    "cat_merkle_table_root",
    survey_row=61,
    oracle="""
    WITH rowd AS (
        SELECT CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|'
                   || CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
                   AS d,
               o_orderkey % 16 AS bucket
        FROM orders
    ),
    l0 AS (
        SELECT bucket AS pos, md5(CAST(sum(d) AS VARCHAR)) AS digest
        FROM rowd GROUP BY bucket
    ),
    l1 AS (
        SELECT pos // 2 AS pos,
               md5(min(CASE WHEN pos % 2 = 0 THEN digest END)
                   || max(CASE WHEN pos % 2 = 1 THEN digest END))
                   AS digest
        FROM l0 GROUP BY pos // 2
    ),
    l2 AS (
        SELECT pos // 2 AS pos,
               md5(min(CASE WHEN pos % 2 = 0 THEN digest END)
                   || max(CASE WHEN pos % 2 = 1 THEN digest END))
                   AS digest
        FROM l1 GROUP BY pos // 2
    ),
    l3 AS (
        SELECT pos // 2 AS pos,
               md5(min(CASE WHEN pos % 2 = 0 THEN digest END)
                   || max(CASE WHEN pos % 2 = 1 THEN digest END))
                   AS digest
        FROM l2 GROUP BY pos // 2
    ),
    l4 AS (
        SELECT pos // 2 AS pos,
               md5(min(CASE WHEN pos % 2 = 0 THEN digest END)
                   || max(CASE WHEN pos % 2 = 1 THEN digest END))
                   AS digest
        FROM l3 GROUP BY pos // 2
    )
    SELECT * FROM (
        SELECT 0 AS level, pos::BIGINT AS pos, digest FROM l0
        UNION ALL SELECT 1, pos::BIGINT, digest FROM l1
        UNION ALL SELECT 2, pos::BIGINT, digest FROM l2
        UNION ALL SELECT 3, pos::BIGINT, digest FROM l3
        UNION ALL SELECT 4, pos::BIGINT, digest FROM l4
    ) ORDER BY level, pos
    """,
)
def cat_merkle_table_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERKLE tree over a table's content — the content-addressable
    verification artifact replication and audit pipelines exchange
    instead of data (equal roots ⇒ equal content; on mismatch the
    tree localizes the divergent bucket in log steps instead of a
    full re-scan — the rsync/Cassandra anti-entropy design). Leaves
    are 16 key-bucketed digests where each bucket reduces its row
    digests by a COMMUTATIVE int64 sum (order-free, partition-proof,
    incrementally updatable on append — the cat_duplicate_table_detect
    fingerprint discipline; the tradeoff vs sorted-concat leaves —
    weaker adversarial collision resistance, no order proof — is the
    standard one for warehouse anti-entropy and is taken knowingly).
    Levels above pair (even,odd) children by md5 until the root.

    Plan shape: ONE corpus pass (map-side-combined bucket sums);
    the 4 pairing levels run on ≤16 rows each (driver-looped like
    cat_lineage_closure — the tree height is log₂(buckets),
    independent of table size). Output is all 31 nodes so the gate
    pins every internal digest, not just the root."""
    o = load_table(spark, sf_dir, "orders")
    d = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit("|"),
                    F.col("o_custkey").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    level = (
        o.select(d.alias("d"), (F.col("o_orderkey") % 16).alias("pos"))
        .groupBy("pos")
        .agg(F.md5(F.sum("d").cast("string")).alias("digest"))
    )
    out = level.select(F.lit(0).alias("level"), "pos", "digest")
    for lv in range(1, 5):
        level = (
            level.groupBy(F.expr("pos div 2").alias("pos"))
            .agg(
                F.md5(
                    F.concat(
                        F.min(
                            F.when(F.col("pos") % 2 == 0, F.col("digest"))
                        ),
                        F.max(
                            F.when(F.col("pos") % 2 == 1, F.col("digest"))
                        ),
                    )
                ).alias("digest")
            )
        )
        out = out.unionAll(
            level.select(F.lit(lv).alias("level"), "pos", "digest")
        )
    return out.select(
        "level", F.col("pos").cast("long").alias("pos"), "digest"
    ).orderBy("level", "pos")
