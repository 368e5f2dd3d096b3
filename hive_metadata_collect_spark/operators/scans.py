"""Scan / source / sink operators — SURVEY.md §2.1 (#1–4).

Scale notes: #2's ``.select`` reaches the parquet reader as ReadSchema
(column pruning) — at 100 TB a 2-of-11-column projection of lineitem
reads ~20% of the bytes. #3 is a metadata-ish rowcount sweep: each
``count()`` is a partial-count-per-partition + single-row final agg,
no wide shuffle. #4 demonstrates the parquet sink roundtrip; at scale
the same ``write.parquet`` call takes ``partitionBy`` for a
date-partitioned layout (partition pruning on re-read).

Every sink writes into a fresh ``build_dir(spark)`` inside the
session's scratch dir: a rebuild never deletes files that an earlier
frame still lists, and ``spark.stop()`` removes them all.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.session import build_dir, scoped_conf
from hive_metadata_collect_spark.sources.fixtures import TABLES, load_table


@register(
    "scan_full",
    survey_row=1,
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan of a small table."""
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "scan_project",
    survey_row=2,
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: projection is pushed into the parquet
    ReadSchema (verify with .explain — only 3 of 11 columns read)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "scan_count",
    survey_row=3,
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in TABLES
    ),
)
def scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-style rowcount inventory: one (table_name, n_rows) row
    per fixture table, unioned into a single frame."""
    counts = [
        load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("n_rows")
        )
        for t in TABLES
    ]
    return reduce(DataFrame.unionAll, counts)


@register(
    "sink_parquet_roundtrip",
    survey_row=4,
    oracle="SELECT * FROM orders WHERE o_orderstatus = 'F'",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered result to parquet, read it back. Values must
    survive the roundtrip bit-exactly (timestamps as TIMESTAMP_MICROS)."""
    target = os.path.join(build_dir(spark), "roundtrip_orders.parquet")
    (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .write.parquet(target)
    )
    return spark.read.parquet(target)


@register(
    "sink_csv_roundtrip",
    survey_row=4,
    oracle="SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'",
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered result to CSV, read it back with the source's
    own schema (CSV is typeless — the explicit schema is what makes
    the roundtrip lossless; never infer in engine code)."""
    src = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    target = os.path.join(build_dir(spark), "roundtrip_customer.csv")
    src.write.option("header", "true").csv(target)
    return spark.read.schema(src.schema).option("header", "true").csv(target)


@register(
    "sink_json_roundtrip",
    survey_row=4,
    oracle="SELECT * FROM supplier WHERE s_nationkey < 10",
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered result to JSON lines, read it back with the
    source's schema. Same losslessness rule as the CSV twin."""
    src = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 10)
    target = os.path.join(build_dir(spark), "roundtrip_supplier.json")
    src.write.json(target)
    return spark.read.schema(src.schema).json(target)


@register(
    "sink_orc_roundtrip",
    survey_row=4,
    oracle="SELECT * FROM nation",
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write to ORC, read it back — third columnar sink format beside
    parquet; ORC preserves types natively (no schema needed on read)."""
    target = os.path.join(build_dir(spark), "roundtrip_nation.orc")
    load_table(spark, sf_dir, "nation").write.orc(target)
    return spark.read.orc(target)


@register(
    "sink_partitioned_layout",
    survey_row=4,
    oracle="""
    SELECT event_id, user_id, event_type, value, ts::DATE AS event_date
    FROM events
    WHERE ts::DATE BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
    """,
)
def sink_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE 100 TB layout pattern: write the event stream partitioned
    by date (`partitionBy` → one directory per day), read it back with
    a date predicate — Catalyst turns the predicate into
    PartitionFilters, so the scan lists only 3 of 30 day-directories
    and never opens the rest (tests/test_plans.py asserts it)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    target = os.path.join(build_dir(spark), "events_by_date.parquet")
    ev.write.partitionBy("event_date").parquet(target)
    back = spark.read.parquet(target)
    return back.filter(
        F.col("event_date").between("2024-01-10", "2024-01-12")
    ).select("event_id", "user_id", "event_type", "value", "event_date")


@register(
    "scan_hash_sample",
    survey_row=1,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
               AS BIGINT) % 100 < 10
    """,
)
def scan_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by content hash of the key — unlike
    TABLESAMPLE, the same rows are selected on every engine, every
    run, and every partitioning, which is what a debugging/eval split
    of a 100 TB table needs (resampling must not shift under
    repartition or speculative re-execution)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return o.filter(bucket < 10).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "scan_schema_evolution",
    survey_row=1,
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet snapshots written with
    different schemas (v2 adds o_orderstatus) are read as ONE dataset
    via mergeSchema — v1 rows surface NULL for the added column. This
    is how a long-lived 100 TB table absorbs additive schema changes
    without rewriting history; merge-on-read costs one footer merge,
    not a data pass. (Dropping/retyping columns is NOT covered by
    mergeSchema — that needs a real table format.)"""
    o = load_table(spark, sf_dir, "orders")
    base = build_dir(spark)
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.parquet(os.path.join(base, "v=1"))
    v2.write.parquet(os.path.join(base, "v=2"))
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(base)
    return merged.select("o_orderkey", "o_totalprice", "o_orderstatus")


@register(
    "scan_dynamic_partition_pruning",
    survey_row=1,
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE day(ts) % 7 = 0
    GROUP BY event_type
    """,
)
def scan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the join-driven sibling of
    `sink_partitioned_layout`'s static pruning: the partition
    predicate isn't a literal, it arrives THROUGH a join with a
    filtered dim (campaign days = every 7th of the month), so pruning
    can only happen at runtime. Catalyst broadcasts the dim, wraps it
    in a dynamicpruningexpression on the fact's PartitionFilters
    (plan-asserted), and the scan lists only the ~4 matching day
    directories of 30 — reusing the SAME broadcast for the join
    itself. At 100 TB a date-partitioned fact joined to a filtered
    date dim reads days, not years; without DPP it reads everything
    and filters after the join."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    target = os.path.join(build_dir(spark), "events_by_date_dpp.parquet")
    ev.write.partitionBy("event_date").parquet(target)
    back = spark.read.parquet(target)
    dim = (
        spark.range(1, 32)
        .select(
            F.to_date(
                F.concat(
                    F.lit("2024-01-"),
                    F.lpad(F.col("id").cast("string"), 2, "0"),
                )
            ).alias("d")
        )
        .filter(F.dayofmonth("d") % 7 == 0)
    )
    return (
        back.join(F.broadcast(dim), back.event_date == dim.d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "scan_corrupt_records",
    survey_row=1,
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n
    FROM events
    WHERE event_id % 13 <> 0
    GROUP BY event_type
    UNION ALL
    SELECT '_CORRUPT' AS event_type, count(*)::BIGINT AS n
    FROM events
    WHERE event_id % 13 = 0
    """,
)
def scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE corrupt-record ingestion — the robustness contract a
    log collector lives by: a JSONL feed where ~8 % of lines are
    truncated garbage (synthesized deterministically: every 13th
    event) must not fail the job OR silently drop data. The read uses
    an EXPLICIT schema + PERMISSIVE mode with a corrupt-record
    column: good lines parse, bad lines land whole in `_corrupt` for
    quarantine, and the output accounts for every input line (the
    oracle restates both populations from the source table). At
    100 TB, FAILFAST is how a petabyte job dies at hour 9 on one bad
    line; DROPMALFORMED is how data vanishes unaudited — PERMISSIVE +
    quarantine count is the production setting."""
    ev = load_table(spark, sf_dir, "events")
    line = F.when(
        F.col("event_id") % 13 == 0,
        F.concat(F.lit('{"event_id":'), F.col("event_id").cast("string"),
                 F.lit(',"event_type":"tru')),  # truncated mid-string
    ).otherwise(
        F.to_json(F.struct("event_id", "event_type"))
    )
    target = os.path.join(build_dir(spark), "corrupt_feed.jsonl")
    ev.select(line.alias("value")).write.text(target)
    feed = (
        spark.read.schema(
            "event_id long, event_type string, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(target)
        # Spark disallows a query referencing ONLY the corrupt column
        # (the parser would need a second pass); cache materializes
        # the parse once, which is also what a quarantine pipeline
        # wants (parse once, split good/bad from the same pass).
        .cache()
    )
    good = (
        feed.filter(F.col("_corrupt").isNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bad = feed.filter(F.col("_corrupt").isNotNull()).agg(
        F.lit("_CORRUPT").alias("event_type"), F.count(F.lit(1)).alias("n")
    )
    return good.unionByName(bad)


@register(
    "scan_agg_pushdown_footer",
    survey_row=3,
    oracle="""
    SELECT count(*) AS n_rows,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           min(l_orderkey) AS min_key,
           max(l_orderkey) AS max_key
    FROM lineitem
    """,
)
def scan_agg_pushdown_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATE pushdown to parquet FOOTERS: COUNT/MIN/MAX answered
    from row-group statistics without decoding a single data page —
    the metadata-only fast path a stats collector should always take
    for its table-level min/max/count sweep (cat_parquet_footer_stats
    reads the same numbers through pyarrow; this is the engine-native
    route). Requires the DSv2 parquet reader, so the demo pins
    `parquet.aggregatePushdown` + removes parquet from the V1
    fallback list for THIS frame's plan construction (forced, then
    configs restored — the bloom-demo discipline); the plan carries
    `PushedAggregation` on the scan (plan-asserted). Pushdown is
    all-or-nothing per query and timestamp min/max is ineligible
    (probed: one timestamp agg empties PushedAggregation), so the
    sweep sticks to numeric/integral columns — the collector runs
    the timestamp freshness probe as its own query instead. At
    100 TB this is the difference between touching ~KB of footers
    per file and re-scanning every page of every column."""
    with scoped_conf(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "",
        },
    ):
        # fresh read: load_table's cached relation was resolved under
        # the V1 reader and would bypass the DSv2 pushdown path
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        out = li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
        out._jdf.queryExecution().executedPlan()
        return out


@register(
    "sink_cluster_zorder",
    survey_row=4,
    oracle="""
    WITH dims AS (
        SELECT o_orderkey,
               o_custkey % 256 AS x,
               date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) % 256 AS y
        FROM orders
    ),
    z AS (
        SELECT o_orderkey, x, y,
               ( ((x // 1) % 2) * 1 + ((y // 1) % 2) * 2
               + ((x // 2) % 2) * 4 + ((y // 2) % 2) * 8
               + ((x // 4) % 2) * 16 + ((y // 4) % 2) * 32
               + ((x // 8) % 2) * 64 + ((y // 8) % 2) * 128
               + ((x // 16) % 2) * 256 + ((y // 16) % 2) * 512
               + ((x // 32) % 2) * 1024 + ((y // 32) % 2) * 2048
               + ((x // 64) % 2) * 4096 + ((y // 64) % 2) * 8192
               + ((x // 128) % 2) * 16384 + ((y // 128) % 2) * 32768
               ) AS zval
        FROM dims
    ),
    bucketed AS (
        SELECT x, y, zval,
               ntile(16) OVER (ORDER BY zval, o_orderkey) AS bucket
        FROM z
    )
    SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_rows,
           min(x)::BIGINT AS x_min, max(x)::BIGINT AS x_max,
           min(y)::BIGINT AS y_min, max(y)::BIGINT AS y_max,
           ((max(x) - min(x) + 1) * (max(y) - min(y) + 1))::BIGINT
               AS bbox_area
    FROM bucketed GROUP BY bucket
    """,
)
def sink_cluster_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered write planner — the multi-dimensional
    layout step behind Delta OPTIMIZE ZORDER BY / Iceberg sort
    orders: interleave the bits of two clustering dimensions
    (customer bucket × day bucket, 8 bits each) into one Morton key,
    range-split the keyspace into 16 target files, and report each
    file's per-dimension min/max bounding box — the stats
    `cat_manifest_prune` then skips on. Z-ordering's point: a
    2-D-selective predicate prunes on BOTH dims (small bbox_area per
    file), where a 1-D sort gives tight bounds on one dim and
    useless ones on the other.

    The bit interleave is pure integer floor-div/mod arithmetic
    (identical semantics in both engines — no bitwise dialect
    drift). The declared query assigns buckets via ntile over the
    z-ordered frame so the gate is deterministic; the production
    write is `df.repartitionByRange(16, zval).sortWithinPartitions(
    zval).write` — same keyspace split, but distributed via sampled
    range boundaries instead of one global window sort. At 100 TB
    the planner's shuffle is the one range exchange any clustered
    write pays; the bbox report itself is a 16-row agg."""
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_custkey") % 256
    y = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01")) % 256
    zval = reduce(
        lambda acc, i: acc
        + (F.floor(F.col("x") / (1 << i)) % 2) * (1 << (2 * i))
        + (F.floor(F.col("y") / (1 << i)) % 2) * (1 << (2 * i + 1)),
        range(8),
        F.lit(0),
    )
    from pyspark.sql import Window

    dims = o.select("o_orderkey", x.alias("x"), y.alias("y"))
    z = dims.withColumn("zval", zval)
    bucketed = z.withColumn(
        "bucket",
        F.ntile(16).over(Window.orderBy("zval", "o_orderkey")),
    )
    return bucketed.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").cast("long").alias("x_min"),
        F.max("x").cast("long").alias("x_max"),
        F.min("y").cast("long").alias("y_min"),
        F.max("y").cast("long").alias("y_max"),
        (
            (F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1)
        ).cast("long").alias("bbox_area"),
    )


@register(
    "scan_nested_schema_pruning",
    survey_row=2,
    oracle="""
    SELECT o_orderkey,
           o_orderpriority AS priority,
           round(o_totalprice, 2) AS price
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def scan_nested_schema_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED schema pruning — column pruning one level down: write
    a parquet with a struct column meta{priority, clerk_note, price},
    then read back only two of its three subfields. Spark's
    nestedSchemaPruning pushes the subfield selection into the
    parquet ReadSchema, so the untouched clerk_note leaf (the
    deliberately wide payload) is never decoded — at 100 TB, nested
    event payloads (the props-style blobs every log schema grows)
    make this the difference between scanning terabytes and scanning
    the two leaves you asked for. The plan-assertion twin
    (tests/test_plans.py) checks clerk_note is absent from the
    scan's ReadSchema; this gate checks the values survive.

    The roundtrip file is written per build (same build_dir rule as
    the sink ops); the oracle recomputes from the flat source —
    the struct nesting must be value-transparent."""
    target = os.path.join(build_dir(spark), "nested_orders.parquet")
    (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.struct(
                F.col("o_orderpriority").alias("priority"),
                F.repeat(F.col("o_orderpriority"), 20).alias("clerk_note"),
                F.round(F.col("o_totalprice"), 2).alias("price"),
            ).alias("meta"),
        )
        .write.parquet(target)
    )
    return (
        spark.read.parquet(target)
        .filter(F.col("o_orderstatus") == "O")
        .select(
            "o_orderkey",
            F.col("meta.priority").alias("priority"),
            F.col("meta.price").alias("price"),
        )
    )


@register(
    "scan_position_deletes",
    survey_row=2,
    oracle="""
    WITH data AS (
        SELECT o_orderkey, o_totalprice,
               o_orderkey % 4 AS file_id,
               o_orderkey // 4 AS pos
        FROM orders
    ),
    deletes AS (
        SELECT file_id, pos FROM data WHERE (pos * 7) % 13 = 0
    )
    SELECT d.file_id::BIGINT AS file_id,
           count(*)::BIGINT AS n_live,
           round(sum(d.o_totalprice), 2) AS live_price
    FROM data d
    LEFT JOIN deletes x
      ON x.file_id = d.file_id AND x.pos = d.pos
    WHERE x.pos IS NULL
    GROUP BY d.file_id
    """,
)
def scan_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ with POSITION deletes — the Iceberg-v2 /
    Delta-deletion-vector read path (`cat_tx_log_snapshot` replays
    whole-FILE tombstones; modern formats also delete individual
    ROWS by (file, position) without rewriting the file): the scan
    anti-joins the data rows against the position-delete set keyed
    on (file_id, row_position) and aggregates only survivors.
    Synthesized deterministically in both engines (file = key mod 4,
    position = key div 4, deletes on a 13-residue).

    Plan shape is the real one: the delete set is a tiny fraction of
    the data (here 1/13), so it BROADCASTS into the anti-join and
    the data side never shuffles for the merge — which is why
    merge-on-read stays cheap until compaction. The survivors'
    rollup is the only data-sized shuffle."""
    o = load_table(spark, sf_dir, "orders")
    data = o.select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 4).alias("file_id"),
        F.floor(F.col("o_orderkey") / 4).alias("pos"),
    )
    deletes = data.filter((F.col("pos") * 7) % 13 == 0).select(
        "file_id", "pos"
    )
    return (
        data.join(F.broadcast(deletes), ["file_id", "pos"], "left_anti")
        .groupBy(F.col("file_id").cast("long").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.round(F.sum("o_totalprice"), 2).alias("live_price"),
        )
    )


@register(
    "scan_file_metadata_accounting",
    survey_row=1,
    oracle="""
    SELECT o_orderstatus AS part_value,
           count(*) AS n_rows,
           1 AS n_files,
           true AS all_files_nonempty
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY part_value
    """,
)
def scan_file_metadata_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level ingest accounting via Spark's hidden `_metadata`
    struct (file_path / file_size — the public metadata-column API on
    file sources): write orders Hive-partitioned by status, then
    account for every file WITHOUT trusting the data columns — the
    partition value is parsed back out of `_metadata.file_path`, rows
    are counted per file, and file sizes are checked positive. This
    is the audit a 100 TB ingest runs after landing: does the
    directory layout agree with the data, is any file empty, how many
    files per partition. The oracle states the invariant (per-status
    counts from the source table, one file per partition, none
    empty); the Spark side must reconstruct it purely from file
    metadata. repartition(1, status) before partitionBy keeps exactly
    one file per partition so the accounting is deterministic."""
    target = os.path.join(build_dir(spark), "meta_accounting_orders")
    (
        load_table(spark, sf_dir, "orders")
        .repartition(1, F.col("o_orderstatus"))
        .write.partitionBy("o_orderstatus")
        .parquet(target)
    )
    read = spark.read.parquet(target).select(
        F.regexp_extract(
            F.col("_metadata.file_path"), r"o_orderstatus=([^/]+)/", 1
        ).alias("part_value"),
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.file_size").alias("fsize"),
    )
    per_file = read.groupBy("part_value", "fp", "fsize").agg(
        F.count("*").alias("rows_in_file")
    )
    return (
        per_file.groupBy("part_value")
        .agg(
            F.sum("rows_in_file").cast("long").alias("n_rows"),
            F.count("*").cast("int").alias("n_files"),
            F.min(F.col("fsize") > 0).alias("all_files_nonempty"),
        )
        .orderBy("part_value")
    )


@register(
    "sink_xml_roundtrip",
    survey_row=4,
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier WHERE s_nationkey >= 20
    """,
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered result as XML (Spark 4's BUILT-IN xml source —
    no external package), read it back with the writer's schema. XML
    is the interchange format metastore exports and legacy feeds still
    arrive in; the roundtrip must survive rowTag framing and type
    re-binding (XML carries no types — the explicit read schema is
    the losslessness rule, same as the CSV twin). Values are longs,
    strings, and 2-decimal doubles, all of which print/parse
    round-trip-exactly."""
    src = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") >= 20
    ).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    target = os.path.join(build_dir(spark), "roundtrip_supplier_xml")
    (
        src.write.format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(target)
    )
    return (
        spark.read.schema(src.schema)
        .format("xml")
        .option("rowTag", "supplier")
        .load(target)
    )


@register(
    "sink_dynamic_partition_overwrite",
    survey_row=4,
    oracle="""
    WITH base AS (
        SELECT event_type, count(*) AS n,
               sum(CAST(floor(round(value, 2) * 100 + 0.5) AS BIGINT))
                   AS value_cents
        FROM events GROUP BY event_type
    ),
    clicks AS (
        SELECT 'click' AS event_type, count(*) AS n,
               sum(CAST(floor(round(value, 2) * 100 + 0.5) AS BIGINT)) * 2
                   AS value_cents
        FROM events WHERE event_type = 'click' AND event_id % 2 = 0
    )
    SELECT event_type, n::BIGINT AS n, value_cents::BIGINT AS value_cents,
           event_type = 'click' AS was_overwritten
    FROM (SELECT * FROM base WHERE event_type <> 'click'
          UNION ALL SELECT * FROM clicks)
    ORDER BY event_type
    """,
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition overwrite — the lakehouse write semantic
    backfills depend on: a second INSERT OVERWRITE touching only the
    partitions present in its input replaces THOSE directories and
    leaves every other partition byte-identical (static mode — the
    default — would truncate the whole table first; the difference
    is a production data-loss incident, which is why this op pins
    the semantic). Sequence: write all events partitioned by type;
    overwrite with a frame containing ONLY re-derived click rows
    (even ids, value doubled); read back and account per partition.

    The read-back totals prove both halves: the click partition
    carries the second write's half-count/doubled-cents signature,
    the other four partitions still carry the first write's exact
    integer-cents sums. partitionOverwriteMode=dynamic is set on
    the WRITER (Spark 3+ session conf or per-write option), the
    per-write form used here so the op doesn't mutate session
    state."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.round("value", 2) * 100 + 0.5).cast("long")
    target = os.path.join(build_dir(spark), "events_dpo.parquet")
    ev.select(
        "event_id", "event_type", cents.alias("value_cents")
    ).write.partitionBy("event_type").parquet(target)
    patch = (
        ev.filter(
            (F.col("event_type") == "click") & (F.col("event_id") % 2 == 0)
        )
        .select(
            "event_id",
            "event_type",
            (cents * 2).alias("value_cents"),
        )
    )
    patch.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("event_type").parquet(target)
    back = spark.read.parquet(target)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").alias("value_cents"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("value_cents").cast("long").alias("value_cents"),
            (F.col("event_type") == "click").alias("was_overwritten"),
        )
        .orderBy("event_type")
    )
