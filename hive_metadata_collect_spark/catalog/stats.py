"""Data-catalog domain operators — SURVEY.md §2.10 (#61–66).

This family re-expresses what a Hive-metadata collector computes —
table inventory, column profiles, partition freshness, table heat,
cold-table detection, lineage — as set-oriented DataFrame jobs over
the fixture tables (`events` plays the query/audit log, per-table
stats play the metastore inventory; SURVEY.md §1.3). In a live
deployment the same operators run over `spark.read.jdbc` frames of
the metastore RDBMS (see sources/connectors.py).

Scale notes: the inventory sweep (#61) is one partial-count per table;
the column profile (#62) is a single full scan computing every metric
in one agg (no per-column rescans); freshness/heat/cold/lineage all
reduce to low-cardinality aggregates of the audit stream — shuffles
carry |entities| rows, not |events|.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import TABLES, load_table




@register(
    "cat_table_stats",
    survey_row=61,
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows, "
        f"count(*) FILTER (WHERE TRUE) AS n_live_rows FROM {t}"
        for t in TABLES
    ),
)
def cat_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat table inventory: one row per catalog table with row
    counts — the collector's core output frame."""
    stats = []
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        stats.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.lit(1)).alias("n_live_rows"),
            )
        )
    return reduce(DataFrame.unionAll, stats)


_PROFILE_COLS = [
    # (column, kind) — kind drives which min/max slot is populated
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(min({col}) AS DOUBLE)", f"CAST(max({col}) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"min({col})", f"max({col})"
        parts.append(
            f"SELECT '{col}' AS column_name, "
            f"count(*) - count({col}) AS n_nulls, "
            f"count(DISTINCT {col}) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, "
            f"{ms} AS min_str, {xs} AS max_str FROM orders"
        )
    return " UNION ALL ".join(parts)


@register("cat_column_profile", survey_row=62, oracle=_profile_oracle())
def cat_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of `orders`: null count, distinct count,
    min/max — computed in ONE scan (all metrics in a single agg, then
    pivoted to rows), not a scan per column."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for col, kind in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(col)).alias(f"{col}__nulls"),
            F.countDistinct(col).alias(f"{col}__distinct"),
        ]
        if kind == "num":
            aggs += [
                F.min(col).cast("double").alias(f"{col}__min_num"),
                F.max(col).cast("double").alias(f"{col}__max_num"),
            ]
        else:
            aggs += [
                F.min(col).alias(f"{col}__min_str"),
                F.max(col).alias(f"{col}__max_str"),
            ]
    wide = o.agg(*aggs)
    rows = []
    for col, kind in _PROFILE_COLS:
        rows.append(
            wide.select(
                F.lit(col).alias("column_name"),
                F.col(f"{col}__nulls").alias("n_nulls"),
                F.col(f"{col}__distinct").alias("n_distinct"),
                (
                    F.col(f"{col}__min_num")
                    if kind == "num"
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"{col}__max_num")
                    if kind == "num"
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (
                    F.col(f"{col}__min_str")
                    if kind == "str"
                    else F.lit(None).cast("string")
                ).alias("min_str"),
                (
                    F.col(f"{col}__max_str")
                    if kind == "str"
                    else F.lit(None).cast("string")
                ).alias("max_str"),
            )
        )
    return reduce(DataFrame.unionAll, rows)


@register(
    "cat_schema_inventory",
    survey_row=62,
    oracle="""
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
    WHERE table_name IN ('region','nation','customer','supplier','part',
                         'orders','lineitem','events','documents','embeddings')
    """,
)
def cat_schema_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMNS_V2-style column inventory: (table, column, type,
    ordinal) for every catalog table — the core artifact a metadata
    collector emits. Schemas come from parquet footers (metadata-only,
    no data scan); the oracle recomputes it from DuckDB's
    information_schema over the same files. timestamp_ntz is
    canonicalized to timestamp (engines name the same physical type
    differently)."""
    rows = []
    for t in TABLES:
        for i, f in enumerate(load_table(spark, sf_dir, t).schema.fields):
            type_name = f.dataType.simpleString().replace("timestamp_ntz", "timestamp")
            rows.append((t, f.name, type_name, i + 1))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, type_name string, ordinal int"
    )


@register(
    "cat_quality_observe",
    survey_row=62,
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5)
                          AS BIGINT)) / 100.0, 2) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def cat_quality_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation instrumented with `df.observe`: data-quality
    counters (row count, null keys, negative prices) are collected as
    a side effect of the SAME job — no second scan. At 100 TB a
    collector emits these observation metrics to its monitoring sink
    on every run; the returned frame is the ordinary business result
    and is what the oracle checks. The price rollup sums integer
    CENTS (house money convention — at sf10 the pre-round double sum
    drifts a full cent between engines at 5M rows/group) and divides
    back once."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("quality")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkey"),
        F.count(F.when(F.col("o_totalprice") < 0, 1)).alias("negative_price"),
    )
    cents = F.floor(F.round("o_totalprice", 2) * 100 + 0.5).cast("long")
    return observed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(cents) / 100.0, 2).alias("total_price"),
    )


@register(
    "cat_anomaly_zscore",
    survey_row=64,
    oracle="""
    WITH daily AS (SELECT event_type, ts::DATE AS day, count(*) AS n
                   FROM events GROUP BY event_type, day),
    scored AS (
        SELECT event_type, day, n,
               (n - avg(n) OVER (PARTITION BY event_type)) /
               nullif(stddev_samp(n) OVER (PARTITION BY event_type), 0) AS z
        FROM daily)
    SELECT event_type, day, n, round(z, 4) AS z
    FROM scored WHERE abs(z) > 2
    """,
)
def cat_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage-anomaly detection: days whose event volume deviates more
    than 2σ from that type's mean — the alert a catalog raises when a
    table's query traffic spikes or collapses. Events reduce to one
    row per (type, day) before the window, so the anomaly scan costs
    one tiny unpartitioned-by-time window over |types|×|days| rows
    regardless of raw volume."""
    e = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = e.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    z = (F.col("n") - F.avg("n").over(w)) / F.nullif(
        F.stddev_samp("n").over(w), F.lit(0)
    )
    return (
        daily.withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2)
        .select("event_type", "day", "n", F.round("z", 4).alias("z"))
    )


@register(
    "cat_metastore_denorm",
    survey_row=61,
    oracle=" ".join(
        [
            "WITH cols AS (SELECT table_name, count(*)::BIGINT AS n_columns",
            "FROM information_schema.columns WHERE table_name IN (",
            ",".join(f"'{t}'" for t in TABLES),
            ") GROUP BY table_name), counts AS (",
            " UNION ALL ".join(
                f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}"
                for t in TABLES
            ),
            ") SELECT 'default' AS db_name, c.table_name,",
            "'parquet' AS storage_format, c.n_columns, n.n_rows",
            "FROM cols c JOIN counts n USING (table_name)",
        ]
    ),
)
def cat_metastore_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference-shape query: the Hive-metastore denormalization
    join. A metadata collector's core output is the flat table
    inventory produced by joining DBS ⋈ TBLS ⋈ SDS ⋈ (COLUMNS_V2
    rolled up per descriptor) ⋈ row counts; here the metastore-shaped
    frames are built in-engine from the fixture catalog itself (DBS/
    TBLS/SDS are metadata literals; COLUMNS_V2 comes from parquet
    footers — no data scan; counts come from the distributed
    partial-count union, the same plan as scan_count).

    At 100 TB the dimension frames are metastore-RDBMS reads via
    spark.read.jdbc and stay broadcast-size by construction (a catalog
    has thousands of tables, not billions), while the only data-scale
    work — row counts — is already distributed. The oracle re-derives
    the identical inventory from DuckDB's information_schema plus
    per-table counts."""
    from functools import reduce

    dbs = spark.createDataFrame([(1, "default")], "db_id int, db_name string")
    tbls = spark.createDataFrame(
        [(i + 1, 1, t, i + 1) for i, t in enumerate(TABLES)],
        "tbl_id int, db_id int, table_name string, sd_id int",
    )
    sds = spark.createDataFrame(
        [(i + 1, "parquet", i + 1) for i in range(len(TABLES))],
        "sd_id int, storage_format string, cd_id int",
    )
    columns_v2 = spark.createDataFrame(
        [
            (i + 1, f.name, f.dataType.simpleString(), j)
            for i, t in enumerate(TABLES)
            for j, f in enumerate(load_table(spark, sf_dir, t).schema.fields)
        ],
        "cd_id int, column_name string, type_name string, integer_idx int",
    )
    counts = reduce(
        DataFrame.unionAll,
        [
            load_table(spark, sf_dir, t).agg(
                F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("n_rows")
            )
            for t in TABLES
        ],
    )
    col_rollup = columns_v2.groupBy("cd_id").agg(
        F.count(F.lit(1)).alias("n_columns")
    )
    return (
        dbs.join(tbls, "db_id")
        .join(sds, "sd_id")
        .join(col_rollup, "cd_id")
        .join(counts, "table_name")
        .select("db_name", "table_name", "storage_format", "n_columns", "n_rows")
    )


@register(
    "cat_column_histogram",
    survey_row=62,
    oracle="""
    WITH vals AS (
        SELECT 'o_totalprice' AS col_name,
               least(greatest(CAST(floor(o_totalprice / 25000) AS BIGINT), 0), 23)
                   AS bucket
        FROM orders
        UNION ALL
        SELECT 'order_doy',
               least(greatest(CAST(floor(dayofyear(o_orderdate) / 31) AS BIGINT),
                              0), 11)
        FROM orders
    )
    SELECT col_name, bucket, count(*) AS n
    FROM vals GROUP BY col_name, bucket
    """,
)
def cat_column_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histograms for several numeric columns in ONE scan:
    each row explodes into (col_name, bucket) pairs from a fixed
    per-column spec (lo, width, nbins), then a single groupBy counts.
    Fixed bucket specs — not data-driven min/max — keep the operator a
    single pass with no driver round-trip and make histograms from
    different snapshots comparable, which is what a metadata
    collector's column-stats store needs. Partial aggregation means
    the shuffle carries at most |cols|×|buckets| rows per task at any
    corpus size."""
    o = load_table(spark, sf_dir, "orders")

    def bucket(val, width, nbins):
        b = F.floor(val / F.lit(width)).cast("long")
        return F.least(F.greatest(b, F.lit(0)), F.lit(nbins - 1))

    pairs = F.array(
        F.struct(
            F.lit("o_totalprice").alias("col_name"),
            bucket(F.col("o_totalprice"), 25000, 24).alias("bucket"),
        ),
        F.struct(
            F.lit("order_doy").alias("col_name"),
            bucket(F.dayofyear("o_orderdate"), 31, 12).alias("bucket"),
        ),
    )
    return (
        o.select(F.explode(pairs).alias("p"))
        .select("p.col_name", "p.bucket")
        .groupBy("col_name", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "cat_key_uniqueness",
    survey_row=62,
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           count(DISTINCT o_orderkey) AS n_distinct,
           count(*) AS n_rows,
           count(DISTINCT o_orderkey) = count(*) AS is_candidate_key
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(DISTINCT o_custkey), count(*),
           count(DISTINCT o_custkey) = count(*)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(DISTINCT o_orderstatus), count(*),
           count(DISTINCT o_orderstatus) = count(*)
    FROM orders
    """,
)
def cat_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key detection: exact distinct-vs-total ratio per
    column, the uniqueness facet of a column profiler (is_candidate_
    key=true ⇒ the column can serve as a join/dedup key). All three
    exact COUNT(DISTINCT)s run in ONE aggregation job — Catalyst
    rewrites multi-distinct aggregates into a single Expand + 2-level
    aggregate, so the table is scanned once, not once per column. At
    100 TB swap approx_count_distinct in for the exact form (one HLL
    sketch per column, no Expand multiplier) and accept the stated
    error; the exact form here is what the oracle can check."""
    o = load_table(spark, sf_dir, "orders")
    cols = ("o_orderkey", "o_custkey", "o_orderstatus")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.countDistinct(c).alias(f"d_{c}") for c in cols],
    )
    profile = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"d_{c}").alias("n_distinct"),
                F.col("n_rows").alias("n_rows"),
                (F.col(f"d_{c}") == F.col("n_rows")).alias(
                    "is_candidate_key"
                ),
            )
            for c in cols
        ]
    )
    return agg.select(F.explode(profile).alias("p")).select("p.*")


def diff_frames(
    prev: DataFrame, cur: DataFrame, key: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Classify every key of two snapshot frames as insert / delete /
    changed / unchanged — the full-outer-join change-capture core
    shared by collector.snapshot_diff (parquet snapshot dirs) and the
    cat_snapshot_diff operator (in-plan snapshots). Presence is
    carried by explicit markers, never inferred from value-column
    NULLness, so a legitimately-NULL value on both sides still
    classifies correctly. Columns named in ``carry`` are emitted as
    prev_<col> / cur_<col> alongside the verdict. At scale both
    snapshots hash-partition on the key, so the join shuffles only
    each snapshot once; with bucketed snapshot layouts it is
    exchange-free."""
    val_cols = [c for c in cur.columns if c != key]
    p = prev.select(
        F.col(key).alias("k"),
        F.lit(True).alias("in_prev"),
        *[F.col(c).alias(f"prev_{c}") for c in val_cols],
    )
    c = cur.select(
        F.col(key).alias("k"),
        F.lit(True).alias("in_cur"),
        *[F.col(c).alias(f"cur_{c}") for c in val_cols],
    )
    changed = None
    for col in val_cols:
        neq = ~F.col(f"prev_{col}").eqNullSafe(F.col(f"cur_{col}"))
        changed = neq if changed is None else (changed | neq)
    joined = p.join(c, "k", "full_outer")
    has_prev = F.col("in_prev").isNotNull()
    has_cur = F.col("in_cur").isNotNull()
    out = [
        F.col("k").alias(key),
        F.when(~has_prev, "insert")
        .when(~has_cur, "delete")
        .when(changed if changed is not None else F.lit(False), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    ]
    for col in carry:
        out.append(F.col(f"prev_{col}"))
        out.append(F.col(f"cur_{col}"))
    return joined.select(*out)


@register(
    "cat_snapshot_diff",
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
    SELECT coalesce(p.event_type, c.event_type) AS event_type,
           CASE WHEN p.event_type IS NULL THEN 'insert'
                WHEN c.event_type IS NULL THEN 'delete'
                WHEN p.n IS DISTINCT FROM c.n THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           p.n AS prev_n,
           c.n AS cur_n
    FROM prev p FULL OUTER JOIN cur c ON p.event_type = c.event_type
    """,
)
def cat_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collector's flagship incremental step as a declared,
    oracle-gated query: diff two deterministic fixture-derived
    inventory snapshots (per-event-type row counts) with the same
    diff_frames core that collector.snapshot_diff runs on persisted
    snapshot directories. The two snapshots are constructed so every
    verdict branch is reachable: the lexicographically-first type is
    absent from prev (→ insert), the last type is absent from cur
    (→ delete), types < 'p' lose their %3 event_ids in prev
    (→ changed), and types ≥ 'p' keep identical rowsets
    (→ unchanged)."""
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
        .select("event_type", "n")
    )
    cur = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(bounds), et != F.col("hi"))
        .select("event_type", "n")
    )
    return diff_frames(prev, cur, "event_type", carry=("n",))


@register(
    "cat_incremental_stats_merge",
    survey_row=61,
    oracle="""
    WITH bucketed AS (
        SELECT l_orderkey % 8 AS bucket,
               count(*) AS n,
               min(l_quantity) AS mn,
               max(l_quantity) AS mx,
               sum(l_extendedprice::DECIMAL(18,2)) AS s
        FROM lineitem
        GROUP BY 1
    )
    SELECT count(*)::BIGINT AS n_buckets,
           sum(n)::BIGINT AS n_rows,
           min(mn) AS min_qty,
           max(mx) AS max_qty,
           round(sum(s), 2)::DOUBLE AS sum_price
    FROM bucketed
    """,
)
def cat_incremental_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL stats collection — the pattern that makes a catalog
    collector viable at 100 TB: per-partition stat tuples (count, min,
    max, DECIMAL sum) are computed independently, persisted, and
    MERGED, so a new partition's arrival costs one partition's scan
    plus an O(|partitions|) merge instead of a full-table recompute.
    Every stat here is chosen mergeable (min of mins, max of maxes,
    sum of counts, sum of exact DECIMAL sums — float sums would make
    the merge order-sensitive); `tests/` additionally asserts the
    merged result equals the direct single-pass aggregate, the
    associativity property the whole scheme rests on. The two-level
    agg shares one shuffle key prefix; level two reduces |buckets|
    rows. The final rounded sum presents as DOUBLE on both engines:
    at sf10, Decimal-vs-float64 renderings break the driver hash here
    in the one case smaller SFs cannot show — a sum whose cents
    happen to be .00, where Spark's Decimal renders '…0.00' against
    DuckDB's float '…0.0' (accumulation stays exact DECIMAL)."""
    li = load_table(spark, sf_dir, "lineitem")
    bucketed = li.groupBy((F.col("l_orderkey") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
    )
    return bucketed.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n").alias("n_rows"),
        F.min("mn").alias("min_qty"),
        F.max("mx").alias("max_qty"),
        F.round(F.sum("s"), 2).cast("double").alias("sum_price"),
    )


@register(
    "cat_referential_integrity",
    survey_row=61,
    oracle="""
    SELECT 'lineitem_orphan_orderkey' AS check_name,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT
               AS n_violations
    UNION ALL
    SELECT 'orders_orphan_custkey',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT
    UNION ALL
    SELECT 'supplier_orphan_nationkey',
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey))::BIGINT
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           (SELECT count(*) FROM lineitem
            WHERE l_quantity <= 0)::BIGINT
    UNION ALL
    SELECT 'orders_null_orderdate',
           (SELECT count(*) FROM orders
            WHERE o_orderdate IS NULL)::BIGINT
    """,
)
def cat_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONTRACT AUDIT — the dbt-tests report a collector runs
    nightly: foreign-key orphan counts (each NOT EXISTS compiled as a
    LEFT ANTI join against the parent's KEY COLUMN only, so the probe
    side ships one column) plus domain checks (non-positive
    quantities, null order dates). All checks SHOULD be zero on the
    fixtures — the operator's value is that the zeros are COMPUTED,
    not assumed, and the same frame alerts the moment an ingest
    breaks a key. Each anti join shuffles only its child's key; the
    union of 1-row counts is free. At 100 TB run the orphan checks
    incrementally on new partitions only — the check composes with
    the tx-log incremental machinery."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    def count1(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    checks = [
        count1(
            "lineitem_orphan_orderkey",
            li.join(
                o.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ),
        ),
        count1(
            "orders_orphan_custkey",
            o.join(
                c.select("c_custkey"),
                o.o_custkey == F.col("c_custkey"),
                "left_anti",
            ),
        ),
        count1(
            "supplier_orphan_nationkey",
            s.join(
                F.broadcast(n.select("n_nationkey")),
                s.s_nationkey == F.col("n_nationkey"),
                "left_anti",
            ),
        ),
        count1(
            "lineitem_nonpositive_qty", li.filter(F.col("l_quantity") <= 0)
        ),
        count1(
            "orders_null_orderdate", o.filter(F.col("o_orderdate").isNull())
        ),
    ]
    out = checks[0]
    for df in checks[1:]:
        out = out.unionByName(df)
    return out


_FK_CANDIDATES = [
    # (child_table, child_col, parent_table, parent_col) — true FKs
    # plus two negative controls the inference must reject.
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("part", "p_size", "region", "r_regionkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
]


def _fk_oracle() -> str:
    parts = []
    for ct, cc, pt, pc in _FK_CANDIDATES:
        parts.append(f"""
    SELECT '{ct}' AS child_table, '{cc}' AS child_column,
           '{pt}' AS parent_table, '{pc}' AS parent_column,
           s.n_child_distinct, s.n_matched,
           round(s.n_matched / s.n_child_distinct, 4) AS containment,
           p.parent_is_unique,
           (s.n_matched = s.n_child_distinct AND p.parent_is_unique)
               AS is_inferred_fk
    FROM (SELECT count(DISTINCT c.{cc}) AS n_child_distinct,
                 count(DISTINCT CASE WHEN par.{pc} IS NOT NULL
                                     THEN c.{cc} END) AS n_matched
          FROM {ct} c
          LEFT JOIN (SELECT DISTINCT {pc} FROM {pt}) par
            ON c.{cc} = par.{pc}) s,
         (SELECT count(DISTINCT {pc}) = count(*) AS parent_is_unique
          FROM {pt}) p""")
    return "\nUNION ALL\n".join(parts)


@register("cat_fk_inference", survey_row=62, oracle=_fk_oracle())
def cat_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key discovery by VALUE CONTAINMENT — the schema-
    matching pass a metadata collector runs when constraints were
    never declared (Hive metastores rarely carry FKs): for each
    candidate column pair, the fraction of distinct child values
    present in the parent column, plus whether the parent side is
    unique. `containment = 1.0 AND parent unique` ⇒ inferred FK;
    the candidate list seeds two negative controls (a measure
    column and a reversed true FK, rejected for non-containment
    and non-uniqueness respectively) so the inference is shown to
    DISCRIMINATE, not just confirm.

    Scale: each pair reduces to distinct-value sets before any join
    (the join carries |distinct child values| rows, never the fact
    table), and all nine 1-row verdicts union into one job. At
    100 TB candidate pruning comes first (name/type affinity over
    the schema inventory), then this containment pass over the
    survivors."""
    out = None
    for ct, cc, pt, pc in _FK_CANDIDATES:
        child = load_table(spark, sf_dir, ct)
        parent = load_table(spark, sf_dir, pt)
        pvals = parent.select(F.col(pc).alias("v")).distinct()
        stats = (
            child.select(F.col(cc).alias("v"))
            .distinct()
            .join(pvals.withColumn("hit", F.lit(1)), "v", "left")
            .agg(
                F.count(F.lit(1)).alias("n_child_distinct"),
                F.count("hit").alias("n_matched"),
            )
        )
        uniq = parent.agg(
            (F.countDistinct(pc) == F.count(F.lit(1))).alias(
                "parent_is_unique"
            )
        )
        row = (
            stats.crossJoin(uniq)
            .select(
                F.lit(ct).alias("child_table"),
                F.lit(cc).alias("child_column"),
                F.lit(pt).alias("parent_table"),
                F.lit(pc).alias("parent_column"),
                "n_child_distinct",
                "n_matched",
                F.round(
                    F.col("n_matched") / F.col("n_child_distinct"), 4
                ).alias("containment"),
                "parent_is_unique",
                (
                    (F.col("n_matched") == F.col("n_child_distinct"))
                    & F.col("parent_is_unique")
                ).alias("is_inferred_fk"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "cat_chi_square_assoc",
    survey_row=64,
    oracle="""
    WITH cells AS (
        SELECT event_type, user_id % 4 AS cohort,
               count(*)::DOUBLE AS o
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT c.*,
               sum(o) OVER (PARTITION BY event_type) AS row_tot,
               sum(o) OVER (PARTITION BY cohort) AS col_tot,
               sum(o) OVER () AS n
        FROM cells c
    )
    SELECT event_type,
           round(sum((o - row_tot * col_tot / n)
                     * (o - row_tot * col_tot / n)
                     / (row_tot * col_tot / n)), 6) AS chi2_contrib,
           count(*)::BIGINT AS n_cells
    FROM tot GROUP BY event_type
    """,
)
def cat_chi_square_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association between two categorical workload
    dimensions (event type × user cohort) — the statistical test a
    collector runs to answer "is table access independent of team?"
    before flagging ownership drift. Emits each event type's
    contribution to the chi² statistic (sum of (O−E)²/E over its
    cohort cells) plus the cell count, so the global statistic and
    degrees of freedom are one further sum away.

    One |types|×|cohorts| contingency aggregate (the only
    corpus-sized shuffle, with map-side partial counts), then the
    marginals via windows over the cell frame — which is metadata-
    sized (|types|·|cohorts| rows) at any scale, so the window sorts
    are free. Float math is sum-of-rounded-cells: each cell's
    contribution is a pure function of exact integer counts, and the
    final round(…,6) keeps the hash stable cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 4).alias("cohort")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("cohort")
    w_all = Window.partitionBy()
    tot = cells.select(
        "event_type",
        "o",
        F.sum("o").over(w_row).alias("row_tot"),
        F.sum("o").over(w_col).alias("col_tot"),
        F.sum("o").over(w_all).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return tot.groupBy("event_type").agg(
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias(
            "chi2_contrib"
        ),
        F.count(F.lit(1)).alias("n_cells"),
    )


@register(
    "cat_schema_compat",
    survey_row=62,
    oracle="""
    WITH v1 AS (
        SELECT 'c' || i AS col,
               CASE WHEN i % 3 = 0 THEN 'int'
                    WHEN i % 3 = 1 THEN 'bigint'
                    ELSE 'string' END AS dtype
        FROM range(10) t(i)
    ),
    v2 AS (
        SELECT 'c' || i AS col,
               CASE WHEN i = 2 THEN 'bigint'
                    WHEN i = 7 THEN 'int'
                    WHEN i % 3 = 0 THEN 'int'
                    WHEN i % 3 = 1 THEN 'bigint'
                    ELSE 'string' END AS dtype
        FROM range(10) t(i) WHERE i <> 3
        UNION ALL SELECT 'c10', 'double'
    )
    SELECT coalesce(v1.col, v2.col) AS col,
           v1.dtype AS v1_type, v2.dtype AS v2_type,
           CASE
             WHEN v1.col IS NULL THEN 'added'
             WHEN v2.col IS NULL THEN 'dropped_breaking'
             WHEN v1.dtype = v2.dtype THEN 'unchanged'
             WHEN v1.dtype = 'int' AND v2.dtype = 'bigint'
                  THEN 'widened_compatible'
             WHEN v1.dtype = 'bigint' AND v2.dtype = 'int'
                  THEN 'narrowed_breaking'
             ELSE 'type_change_breaking'
           END AS verdict
    FROM v1 FULL OUTER JOIN v2 ON v1.col = v2.col
    """,
)
def cat_schema_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution COMPATIBILITY check — the gate a collector
    runs between two schema versions before letting a producer
    deploy (Avro/Protobuf registry semantics, applied to table
    schemas): per column, classify the v1→v2 change as unchanged,
    added (readers tolerate), widened int→bigint (compatible
    promotion), dropped / narrowed / type-changed (breaking). The
    implementation is the schema-diff reduce itself: full-outer join
    of the two column sets + a rule table — the shape
    `cat_snapshot_diff` applies to data, applied to metadata.

    Schema rows are synthesized from the same deterministic spec in
    both engines (10 columns, one widen, one narrow, one drop, one
    add). Metadata-sized end to end; on a real metastore the inputs
    are two COLUMNS_V2 snapshots and the same join resolves at
    |columns| scale."""
    r = spark.range(10)
    dtype = (
        F.when(F.col("id") % 3 == 0, "int")
        .when(F.col("id") % 3 == 1, "bigint")
        .otherwise("string")
    )
    v1 = r.select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("col"),
        dtype.alias("v1_type"),
    )
    v2 = (
        r.filter(F.col("id") != 3)
        .select(
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("col"),
            F.when(F.col("id") == 2, "bigint")
            .when(F.col("id") == 7, "int")
            .otherwise(dtype)
            .alias("v2_type"),
        )
        .unionAll(
            spark.range(1).select(
                F.lit("c10").alias("col"), F.lit("double").alias("v2_type")
            )
        )
    )
    j = v1.join(v2, "col", "full_outer")
    return j.select(
        "col",
        "v1_type",
        "v2_type",
        F.when(F.col("v1_type").isNull(), "added")
        .when(F.col("v2_type").isNull(), "dropped_breaking")
        .when(F.col("v1_type") == F.col("v2_type"), "unchanged")
        .when(
            (F.col("v1_type") == "int") & (F.col("v2_type") == "bigint"),
            "widened_compatible",
        )
        .when(
            (F.col("v1_type") == "bigint") & (F.col("v2_type") == "int"),
            "narrowed_breaking",
        )
        .otherwise("type_change_breaking")
        .alias("verdict"),
    )


@register(
    "cat_pii_column_scan",
    survey_row=62,
    oracle="""
    WITH scans AS (
        SELECT 'customer' AS table_name, 'c_name' AS column_name,
               CASE WHEN c_custkey % 10 = 0
                    THEN c_name || ' user' || c_custkey || '@example.com'
                    ELSE c_name END AS val
        FROM customer
        UNION ALL
        SELECT 'customer', 'c_mktsegment', c_mktsegment FROM customer
        UNION ALL
        SELECT 'documents', 'text',
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' call ' ||
                         lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
                         '-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                    ELSE text END
        FROM documents
        UNION ALL
        SELECT 'events', 'props', props FROM events
    )
    SELECT table_name, column_name,
           count(*)::BIGINT AS n_rows,
           count(*) FILTER (WHERE regexp_matches(val,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))::BIGINT
               AS n_email,
           count(*) FILTER (WHERE regexp_matches(val,
               '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phone,
           (count(*) FILTER (WHERE regexp_matches(val,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')
                OR regexp_matches(val, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
            * 100 > count(*)) AS pii_flag
    FROM scans GROUP BY table_name, column_name
    """,
)
def cat_pii_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level PII DETECTION — the governance scan a catalog
    runs to auto-classify columns before granting access (the
    column-profile cousin of `text_pii_redact`, which scrubs one
    known column; this op DISCOVERS which (table, column) pairs leak):
    every registered string column is value-scanned against the
    email/phone patterns and flagged when more than 1 % of rows hit.
    PII is deterministically seeded into a known fraction of two
    columns in BOTH engines (the fixtures carry none), so the
    detector provably discriminates: two seeded columns flag, two
    clean control columns must NOT.

    Patterns stay inside the Java-regex ∩ RE2 common dialect (same
    constants as text_pii_redact, text.py:476). Each column scan is
    map-only regexp counting with a |columns|-row reduce; at 100 TB
    the scan piggybacks the per-table pass (one regexp per column in
    the same projection) and the 1 %-threshold decision is the same
    four-counter rollup."""
    cust = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    name_col = F.when(
        F.col("c_custkey") % 10 == 0,
        F.concat(
            F.col("c_name"),
            F.lit(" user"),
            F.col("c_custkey").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.col("c_name"))
    text_col = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" call "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    scans = (
        cust.select(
            F.lit("customer").alias("table_name"),
            F.lit("c_name").alias("column_name"),
            name_col.alias("val"),
        )
        .unionAll(
            cust.select(
                F.lit("customer"), F.lit("c_mktsegment"), F.col("c_mktsegment")
            )
        )
        .unionAll(
            docs.select(F.lit("documents"), F.lit("text"), text_col)
        )
        .unionAll(ev.select(F.lit("events"), F.lit("props"), F.col("props")))
    )
    email = F.col("val").rlike(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}")
    phone = F.col("val").rlike(r"[0-9]{3}-[0-9]{3}-[0-9]{4}")
    return scans.groupBy("table_name", "column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(email, 1)).alias("n_email"),
        F.count(F.when(phone, 1)).alias("n_phone"),
        (F.count(F.when(email | phone, 1)) * 100 > F.count(F.lit(1))).alias(
            "pii_flag"
        ),
    )


@register(
    "cat_duplicate_table_detect",
    survey_row=61,
    oracle="""
    WITH fps AS (
        SELECT 'orders' AS table_name, count(*) AS n_rows,
               sum(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                     || '|' || CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT))
                   AS content_fp
        FROM orders
        UNION ALL
        SELECT 'orders_mirror', count(*),
               sum(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                     || '|' || CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT))
        FROM orders
        UNION ALL
        SELECT 'orders_open', count(*),
               sum(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                     || '|' || CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT))
        FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT 'customer', count(*),
               sum(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                     || '|' || CAST(c_nationkey AS VARCHAR)), 1, 8)) AS BIGINT))
        FROM customer
    )
    SELECT a.table_name AS table_a, b.table_name AS table_b,
           a.n_rows::BIGINT AS n_rows
    FROM fps a JOIN fps b
      ON a.content_fp = b.content_fp AND a.n_rows = b.n_rows
     AND a.table_name < b.table_name
    """,
)
def cat_duplicate_table_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-table detection — the storage-waste sweep a catalog
    runs over thousands of tables (copies made for one-off analyses
    and never deleted are a top-3 warehouse cost): each table reduces
    to an ORDER-INDEPENDENT content fingerprint (sum of per-row key
    digests — commutative, so partitioning and row order cannot move
    it) plus a row count, and candidate duplicate pairs are a
    self-join on the |tables|-sized fingerprint frame. The fixture
    registers four logical tables — a genuine mirror pair, a
    filtered near-copy (must NOT match), and an unrelated table —
    so the detector's discrimination is structural.

    Per-table cost is one map-side-combine agg (the digest sum is
    32-bit-per-row, so even 10¹² rows stay far inside int64); the
    pair join runs on metadata. The same additive fingerprint is
    what makes INCREMENTAL re-checks possible: append-only tables
    update their fingerprint by adding the new rows' digests."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def fp(df: DataFrame, name: str, k1: str, k2: str) -> DataFrame:
        digest = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(k1).cast("string"),
                        F.lit("|"),
                        F.col(k2).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(digest).alias("content_fp"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "content_fp")

    fps = (
        fp(o, "orders", "o_orderkey", "o_custkey")
        .unionAll(fp(o, "orders_mirror", "o_orderkey", "o_custkey"))
        .unionAll(
            fp(
                o.filter(F.col("o_orderstatus") == "O"),
                "orders_open",
                "o_orderkey",
                "o_custkey",
            )
        )
        .unionAll(fp(c, "customer", "c_custkey", "c_nationkey"))
    )
    a = fps
    b = fps.select(
        F.col("table_name").alias("table_b"),
        F.col("n_rows").alias("b_rows"),
        F.col("content_fp").alias("b_fp"),
    )
    return (
        a.join(
            b,
            (a["content_fp"] == b["b_fp"])
            & (a["n_rows"] == b["b_rows"])
            & (a["table_name"] < b["table_b"]),
        )
        .select(
            F.col("table_name").alias("table_a"),
            "table_b",
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


@register(
    "cat_semantic_type_infer",
    survey_row=62,
    oracle="""
    WITH profiles AS (
        SELECT 'orders' AS table_name, 'o_orderkey' AS column_name,
               count(*) AS n, count(DISTINCT o_orderkey) AS n_distinct,
               0 AS n_patterned FROM orders
        UNION ALL
        SELECT 'orders', 'o_orderstatus', count(*),
               count(DISTINCT o_orderstatus), 0 FROM orders
        UNION ALL
        SELECT 'orders', 'o_orderpriority', count(*),
               count(DISTINCT o_orderpriority),
               count(*) FILTER (WHERE regexp_matches(o_orderpriority,
                   '^[0-9]+-')) FROM orders
        UNION ALL
        SELECT 'customer', 'c_name', count(*), count(DISTINCT c_name),
               count(*) FILTER (WHERE regexp_matches(c_name,
                   '^Customer#[0-9]+$')) FROM customer
        UNION ALL
        SELECT 'customer', 'c_mktsegment', count(*),
               count(DISTINCT c_mktsegment), 0 FROM customer
    )
    SELECT table_name, column_name,
           n_distinct::BIGINT AS n_distinct,
           CASE
             WHEN n_distinct = n THEN 'unique_id'
             WHEN n_patterned * 10 > n * 9 THEN 'templated_string'
             WHEN n_distinct * 20 <= n THEN 'categorical'
             ELSE 'free_form'
           END AS semantic_type
    FROM profiles
    """,
)
def cat_semantic_type_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC-type inference — the auto-classification layer above
    `cat_column_profile`'s raw stats (catalogs tag columns as
    id / code / templated / free-form so search, masking, and join
    suggestions work without humans): per column, distinct-ratio and
    template-pattern evidence feed a deterministic rule table —
    all-distinct ⇒ unique id (join-key candidate), ≥90 % matching a
    template regex ⇒ templated string (generated, maskable),
    low cardinality ⇒ categorical (dimension), else free-form. The
    rule thresholds are integer-arithmetic comparisons (n_patterned·
    10 > n·9), so no float enters the verdict.

    One profiling agg per column over its table (batched per table
    in practice — the same single-pass trick cat_column_profile
    uses); the rule table runs on the |columns| metadata frame."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def prof(df, table, col, pattern=None):
        patterned = (
            F.count(F.when(F.col(col).rlike(pattern), 1))
            if pattern
            else F.lit(0)
        )
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(col).alias("n_distinct"),
            patterned.alias("n_patterned"),
        ).select(
            F.lit(table).alias("table_name"),
            F.lit(col).alias("column_name"),
            "n",
            "n_distinct",
            "n_patterned",
        )

    profiles = (
        prof(o, "orders", "o_orderkey")
        .unionAll(prof(o, "orders", "o_orderstatus"))
        .unionAll(prof(o, "orders", "o_orderpriority", r"^[0-9]+-"))
        .unionAll(prof(c, "customer", "c_name", r"^Customer#[0-9]+$"))
        .unionAll(prof(c, "customer", "c_mktsegment"))
    )
    return profiles.select(
        "table_name",
        "column_name",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.when(F.col("n_distinct") == F.col("n"), "unique_id")
        .when(F.col("n_patterned") * 10 > F.col("n") * 9, "templated_string")
        .when(F.col("n_distinct") * 20 <= F.col("n"), "categorical")
        .otherwise("free_form")
        .alias("semantic_type"),
    )


@register(
    "cat_psi_drift",
    survey_row=64,
    oracle="""
    WITH halves AS (
        SELECT event_type,
               CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, half, n,
               sum(n) OVER (PARTITION BY half) AS half_tot
        FROM halves
    ),
    pvt AS (
        SELECT a.event_type,
               a.n * 1.0 / a.half_tot AS pa,
               b.n * 1.0 / b.half_tot AS pb
        FROM (SELECT * FROM tot WHERE half = 'a') a
        JOIN (SELECT * FROM tot WHERE half = 'b') b
          ON a.event_type = b.event_type
    )
    SELECT event_type,
           round(pa, 6) AS p_ref, round(pb, 6) AS p_cur,
           round((pa - pb) * ln(pa / pb), 6) AS psi_term
    FROM pvt
    """,
)
def cat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (PSI) between two workload
    populations — THE model-monitoring drift metric, applied where a
    collector applies it: has the distribution of accessed tables /
    event types shifted between two periods? Per category, the PSI
    term (p_ref − p_cur)·ln(p_ref/p_cur); the global index (sum;
    >0.2 = investigate) is one further sum. Categories present in
    only one half are the documented production wrinkle (smoothing
    needed) — here the split is event_id parity, so every category
    appears in both halves and the gate stays exact without
    smoothing.

    Two |categories|-sized marginal windows over one contingency
    agg (the chi-square plumbing with a different statistic);
    probabilities are single IEEE divisions of exact counts, and ln
    of an IEEE-identical argument is libm-stable — the same
    contract text_unigram_logprob has held across five rounds."""
    ev = load_table(spark, sf_dir, "events")
    halves = ev.groupBy(
        "event_type",
        F.when(F.col("event_id") % 2 == 0, "a").otherwise("b").alias("half"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = halves.withColumn(
        "half_tot", F.sum("n").over(Window.partitionBy("half"))
    )
    a = tot.filter(F.col("half") == "a").select(
        "event_type", (F.col("n") / F.col("half_tot")).alias("pa")
    )
    b = tot.filter(F.col("half") == "b").select(
        F.col("event_type").alias("et_b"),
        (F.col("n") / F.col("half_tot")).alias("pb"),
    )
    pvt = a.join(b, a["event_type"] == b["et_b"])
    return pvt.select(
        "event_type",
        F.round("pa", 6).alias("p_ref"),
        F.round("pb", 6).alias("p_cur"),
        F.round(
            (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")), 6
        ).alias("psi_term"),
    )


@register(
    "cat_params_eav_pivot",
    survey_row=61,
    oracle="""
    WITH params AS (
        SELECT 'tbl_' || (event_id % 40) AS tbl, 'numRows' AS k,
               CAST(event_id % 100000 AS VARCHAR) AS v
        FROM events WHERE event_id % 3 = 0
        UNION ALL
        SELECT 'tbl_' || (event_id % 40), 'totalSize',
               CAST(event_id % 900000 + 1024 AS VARCHAR)
        FROM events WHERE event_id % 3 = 1
        UNION ALL
        SELECT 'tbl_' || (event_id % 40), 'comment',
               'desc-' || (event_id % 7)
        FROM events WHERE event_id % 11 = 2
    ),
    latest AS (
        SELECT tbl, k, max(v) AS v FROM params GROUP BY tbl, k
    )
    SELECT tbl,
           max(CASE WHEN k = 'numRows' THEN CAST(v AS BIGINT) END)
               AS num_rows,
           max(CASE WHEN k = 'totalSize' THEN CAST(v AS BIGINT) END)
               AS total_size,
           max(CASE WHEN k = 'comment' THEN v END) AS comment,
           (max(CASE WHEN k = 'comment' THEN v END) IS NULL)
               AS missing_comment
    FROM latest GROUP BY tbl
    """,
)
def cat_params_eav_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE_PARAMS EAV pivot — THE metastore access pattern: Hive
    stores every table statistic and annotation as untyped
    key/value rows (TABLE_PARAMS: numRows, totalSize, comment,
    transient_lastDdlTime, ...), and every downstream consumer
    needs them as typed COLUMNS. One conditional-aggregation pivot
    turns the tall k/v frame wide, re-typing numeric params with
    CAST and surfacing governance gaps (missing comment) as a flag.
    Duplicate params per (table, key) resolve max-wins first — the
    deterministic stand-in for last-DDL-wins.

    Conditional aggregation (not the pivot() API) keeps the output
    schema STATIC — the property the oracle gate and any downstream
    consumer needs; pivot()'s inferred columns shift with the data.
    Two |params|-sized group-aggs with map-side combine; at real
    scale TABLE_PARAMS is millions of rows for thousands of tables
    — still metadata, still one pass."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    tbl = F.concat(F.lit("tbl_"), (eid % 40).cast("string"))
    params = (
        ev.filter(eid % 3 == 0)
        .select(
            tbl.alias("tbl"),
            F.lit("numRows").alias("k"),
            (eid % 100000).cast("string").alias("v"),
        )
        .unionAll(
            ev.filter(eid % 3 == 1).select(
                tbl.alias("tbl"),
                F.lit("totalSize").alias("k"),
                (eid % 900000 + 1024).cast("string").alias("v"),
            )
        )
        .unionAll(
            ev.filter(eid % 11 == 2).select(
                tbl.alias("tbl"),
                F.lit("comment").alias("k"),
                F.concat(F.lit("desc-"), (eid % 7).cast("string")).alias("v"),
            )
        )
    )
    latest = params.groupBy("tbl", "k").agg(F.max("v").alias("v"))
    return latest.groupBy("tbl").agg(
        F.max(F.when(F.col("k") == "numRows", F.col("v")))
        .cast("long")
        .alias("num_rows"),
        F.max(F.when(F.col("k") == "totalSize", F.col("v")))
        .cast("long")
        .alias("total_size"),
        F.max(F.when(F.col("k") == "comment", F.col("v"))).alias("comment"),
        F.max(F.when(F.col("k") == "comment", F.col("v")))
        .isNull()
        .alias("missing_comment"),
    )


@register(
    "cat_sequence_gaps",
    survey_row=63,
    oracle="""
    WITH seq AS (
        SELECT event_type, event_id,
               lead(event_id) OVER (PARTITION BY event_type
                                    ORDER BY event_id) AS nxt
        FROM events
    )
    SELECT event_type,
           (event_id + 1)::BIGINT AS gap_start,
           (nxt - 1)::BIGINT AS gap_end,
           (nxt - event_id - 1)::BIGINT AS n_missing
    FROM seq
    WHERE nxt IS NOT NULL AND nxt > event_id + 1
    """,
)
def cat_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-gap detection — the ingestion-integrity audit run
    against any monotonically-assigned id (CDC log offsets, Kafka
    offsets per partition, metastore auto-increment ids): within
    each stream, consecutive-id pairs with a hole between them
    become (gap_start, gap_end, n_missing) rows — the exact ranges
    a backfill job must re-request. Because event ids here are
    globally dense but each type holds a subset, every type exhibits
    genuine gaps — the detector's output is structurally non-empty
    AND verifiable.

    One lead() per stream partition — the islands-and-gaps idiom
    reduced to its integrity-audit core; one shuffle on the stream
    key, pure integer arithmetic after."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    seq = ev.select(
        "event_type",
        "event_id",
        F.lead("event_id").over(w).alias("nxt"),
    )
    return seq.filter(
        F.col("nxt").isNotNull() & (F.col("nxt") > F.col("event_id") + 1)
    ).select(
        "event_type",
        (F.col("event_id") + 1).alias("gap_start"),
        (F.col("nxt") - 1).alias("gap_end"),
        (F.col("nxt") - F.col("event_id") - 1).alias("n_missing"),
    )


@register(
    "cat_config_drift",
    survey_row=61,
    oracle="""
    WITH conf AS (
        SELECT 'tbl_' || (event_id % 30) AS tbl,
               CASE event_id % 3 WHEN 0 THEN 'format'
                    WHEN 1 THEN 'compression' ELSE 'retention' END AS k,
               CASE WHEN event_id % 17 = 5
                    THEN 'v_odd_' || (event_id % 2)
                    ELSE 'v_std' END AS v
        FROM events
    ),
    latest AS (
        SELECT tbl, k, max(v) AS v FROM conf GROUP BY tbl, k
    ),
    modal AS (
        SELECT k, v AS modal_v FROM (
            SELECT k, v, count(*) AS n,
                   row_number() OVER (PARTITION BY k
                       ORDER BY count(*) DESC, v ASC) AS rn
            FROM latest GROUP BY k, v
        ) WHERE rn = 1
    )
    SELECT l.tbl, l.k, l.v AS actual_v, m.modal_v
    FROM latest l JOIN modal m ON m.k = l.k
    WHERE l.v <> m.modal_v
    """,
)
def cat_config_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFIG-drift detection — the fleet-consistency sweep a
    platform team runs over table properties (a table whose
    compression/format/retention differs from the fleet norm is
    either a deliberate exception or a forgotten experiment; both
    need a name on them): per config key, the MODAL value across
    tables (count desc, value asc tie-break — deterministic mode,
    the agg_mode_deterministic discipline) defines the norm, and
    the report is every (table, key) deviating from it. Values are
    synthesized with a residue-seeded minority so the drift set is
    structural.

    Everything after the per-(table, key) latest-resolve operates
    on \\|tables\\|×\\|keys\\| metadata; the modal frame broadcasts
    into the deviation anti-filter."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    conf = ev.select(
        F.concat(F.lit("tbl_"), (eid % 30).cast("string")).alias("tbl"),
        F.when(eid % 3 == 0, "format")
        .when(eid % 3 == 1, "compression")
        .otherwise("retention")
        .alias("k"),
        F.when(
            eid % 17 == 5,
            F.concat(F.lit("v_odd_"), (eid % 2).cast("string")),
        )
        .otherwise("v_std")
        .alias("v"),
    )
    latest = conf.groupBy("tbl", "k").agg(F.max("v").alias("v"))
    modal = (
        latest.groupBy("k", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "k",
            "v",
            F.row_number()
            .over(
                Window.partitionBy("k").orderBy(
                    F.col("n").desc(), F.col("v").asc()
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("k", F.col("v").alias("modal_v"))
    )
    return (
        latest.join(F.broadcast(modal), "k")
        .filter(F.col("v") != F.col("modal_v"))
        .select("tbl", "k", F.col("v").alias("actual_v"), "modal_v")
    )


@register(
    "cat_temporal_orphans",
    survey_row=62,
    oracle="""
    WITH dim AS (
        SELECT o_custkey, o_orderdate AS valid_from,
               coalesce(lead(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey),
                   TIMESTAMP '2999-01-01') AS valid_to
        FROM orders
    ),
    fact AS (
        SELECT o.o_custkey AS f_custkey, l.l_orderkey, l.l_linenumber,
               l.l_shipdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT f.f_custkey AS custkey,
           count(*)::BIGINT AS n_orphan_lines,
           min(f.l_shipdate) AS earliest_orphan_ship
    FROM fact f
    LEFT JOIN dim d ON f.f_custkey = d.o_custkey
                   AND f.l_shipdate >= d.valid_from
                   AND f.l_shipdate < d.valid_to
    WHERE d.o_custkey IS NULL
    GROUP BY f.f_custkey
    """,
)
def cat_temporal_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL referential-integrity audit — the rows
    `join_temporal_dim` silently drops, surfaced as the defect list:
    fact lines whose timestamp falls OUTSIDE every dimension
    validity interval (here: lines shipped before their customer's
    first recorded version — in a live warehouse, the signature of
    late-arriving facts or a dimension load gap). Plain referential
    integrity (`cat_referential_integrity`) checks the KEY exists;
    this checks a version existed AT THE TIME, which is the
    condition SCD2 correctness actually requires.

    Same interval timeline as the temporal join (half-open via
    lead), flipped to LEFT + null-filter — the orphan detector and
    the join are provably complements over the same dim. Orphans
    roll up per customer with the earliest offending timestamp (the
    backfill cursor)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = o.select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit("2999-01-01").cast("timestamp"),
        ).alias("valid_to"),
    )
    fact = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("f_custkey"),
        "l_shipdate",
    )
    return (
        fact.join(
            dim,
            (F.col("f_custkey") == F.col("d_custkey"))
            & (F.col("l_shipdate") >= F.col("valid_from"))
            & (F.col("l_shipdate") < F.col("valid_to")),
            "left_outer",
        )
        .filter(F.col("d_custkey").isNull())
        .groupBy(F.col("f_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orphan_lines"),
            F.min("l_shipdate").alias("earliest_orphan_ship"),
        )
    )


@register(
    "cat_equidepth_histogram",
    survey_row=62,
    oracle="""
    WITH banded AS (
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                   AS band
        FROM orders
    )
    SELECT band::BIGINT AS band,
           count(*)::BIGINT AS n_rows,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(max(o_totalprice) - min(o_totalprice), 2) AS width
    FROM banded GROUP BY band
    """,
)
def cat_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram — the optimizer-statistics histogram
    kind (Hive column stats and every selectivity estimator use
    equi-depth, not equi-width: `cat_column_histogram`'s fixed-width
    bands put 90 % of a skewed column in one bucket and estimate
    nothing; equal-population bands adapt their WIDTH to the
    distribution, so each band's selectivity is exactly 1/k): ten
    ntile bands over the price column with per-band bounds, counts,
    and widths — narrow bands mark dense regions, wide bands the
    sparse tail, which is precisely what a range-predicate
    estimator reads off.

    The gate uses ntile over a pinned total order (value, key) for
    determinism; the at-scale build swaps in approx_percentile
    boundaries + one banding pass (two scans, no global sort) —
    the same two-pass trade documented at cat_rfm_segments. Output
    is k rows."""
    o = load_table(spark, sf_dir, "orders")
    banded = o.select(
        "o_totalprice",
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("band"),
    )
    return banded.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.max("o_totalprice") - F.min("o_totalprice"), 2).alias(
            "width"
        ),
    )


@register(
    "cat_naming_lint",
    survey_row=61,
    oracle="""
    WITH names AS (
        SELECT DISTINCT
               CASE event_id % 5
                 WHEN 0 THEN 'raw_events_' || (event_id % 13)
                 WHEN 1 THEN 'stg_Orders_' || (event_id % 13)
                 WHEN 2 THEN 'tmp_scratch_' || (event_id % 13)
                 WHEN 3 THEN 'mart_revenue_' || (event_id % 13)
                 ELSE 'MyTable' || (event_id % 13)
               END AS tbl
        FROM events
    )
    SELECT tbl,
           NOT regexp_matches(tbl, '^[a-z][a-z0-9_]*$')
               AS bad_case,
           NOT (tbl LIKE 'raw_%' OR tbl LIKE 'stg_%'
                OR tbl LIKE 'mart_%') AS missing_layer_prefix,
           tbl LIKE 'tmp_%' AS is_scratch,
           (NOT regexp_matches(tbl, '^[a-z][a-z0-9_]*$'))
               OR NOT (tbl LIKE 'raw_%' OR tbl LIKE 'stg_%'
                       OR tbl LIKE 'mart_%')
               OR tbl LIKE 'tmp_%' AS violates
    FROM names
    """,
)
def cat_naming_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMING-convention lint — the cheapest governance check with
    the highest compliance yield (a warehouse where `MyTable7` and
    `tmp_scratch_3` survive review has no working review): every
    distinct table name tested against the three standard rules —
    lower_snake_case, a recognized layer prefix (raw_/stg_/mart_),
    and no scratch tables in the catalog at all — with per-rule
    flags so the lint report explains itself. Names synthesize all
    violation classes (camelCase, mixed-case with a valid prefix,
    tmp_, and two clean classes).

    One DISTINCT over names then pure regex/LIKE codegen on the
    |tables| frame. The real deployment points this at
    TBLS.TBL_NAME."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    tbl = (
        F.when(eid % 5 == 0, F.concat(F.lit("raw_events_"), (eid % 13).cast("string")))
        .when(eid % 5 == 1, F.concat(F.lit("stg_Orders_"), (eid % 13).cast("string")))
        .when(eid % 5 == 2, F.concat(F.lit("tmp_scratch_"), (eid % 13).cast("string")))
        .when(eid % 5 == 3, F.concat(F.lit("mart_revenue_"), (eid % 13).cast("string")))
        .otherwise(F.concat(F.lit("MyTable"), (eid % 13).cast("string")))
    )
    names = ev.select(tbl.alias("tbl")).distinct()
    bad_case = ~F.col("tbl").rlike("^[a-z][a-z0-9_]*$")
    no_prefix = ~(
        F.col("tbl").like("raw_%")
        | F.col("tbl").like("stg_%")
        | F.col("tbl").like("mart_%")
    )
    scratch = F.col("tbl").like("tmp_%")
    return names.select(
        "tbl",
        bad_case.alias("bad_case"),
        no_prefix.alias("missing_layer_prefix"),
        scratch.alias("is_scratch"),
        (bad_case | no_prefix | scratch).alias("violates"),
    )


@register(
    "cat_golden_record",
    survey_row=61,
    oracle="""
    WITH sources AS (
        SELECT event_id % 40 AS entity_id, 1 AS priority,
               CASE WHEN event_id % 3 = 0
                    THEN 'crm_name_' || (event_id % 40) END AS name,
               CASE WHEN event_id % 5 = 0
                    THEN 'crm' || (event_id % 40) || '@x.com' END AS email
        FROM events WHERE event_id % 7 = 0
        UNION ALL
        SELECT event_id % 40, 2,
               'erp_name_' || (event_id % 40),
               CASE WHEN event_id % 4 = 1
                    THEN 'erp' || (event_id % 40) || '@x.com' END
        FROM events WHERE event_id % 7 = 1
        UNION ALL
        SELECT event_id % 40, 3,
               CASE WHEN event_id % 2 = 0
                    THEN 'web_name_' || (event_id % 40) END,
               'web' || (event_id % 40) || '@x.com'
        FROM events WHERE event_id % 7 = 2
    )
    SELECT entity_id::BIGINT AS entity_id,
           min(CASE WHEN name IS NOT NULL THEN priority END)::BIGINT
               AS name_source,
           min(name) FILTER (WHERE priority = (
               SELECT min(s2.priority) FROM sources s2
               WHERE s2.entity_id = sources.entity_id
                 AND s2.name IS NOT NULL)) AS name,
           min(CASE WHEN email IS NOT NULL THEN priority END)::BIGINT
               AS email_source,
           min(email) FILTER (WHERE priority = (
               SELECT min(s3.priority) FROM sources s3
               WHERE s3.entity_id = sources.entity_id
                 AND s3.email IS NOT NULL)) AS email
    FROM sources
    GROUP BY entity_id
    """,
)
def cat_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD survivorship — the master-data-management merge
    (the same entity arrives from CRM, ERP, and web signup with
    conflicting, partially-null attributes; the golden record takes
    each FIELD independently from the highest-priority source that
    HAS it — priority is per-attribute, not per-row, which is why a
    naive row-level dedup gets MDM wrong): three synthesized
    sources with seeded null patterns merge per entity, each column
    carrying its winning source id beside it (the survivorship
    lineage auditors require).

    Per-column survivorship is one min_by over (priority) among
    non-null candidates — here via the scalar composite
    min_by(priority·K + …) -free formulation: min(CASE…) for the
    winning priority and a tie-free min over that priority's
    values. One |entities|-keyed agg after the source union;
    at scale each source arrives pre-keyed and the merge is one
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    ent = (eid % 40).alias("entity_id")

    crm = ev.filter(eid % 7 == 0).select(
        ent,
        F.lit(1).alias("priority"),
        F.when(
            eid % 3 == 0, F.concat(F.lit("crm_name_"), (eid % 40).cast("string"))
        ).alias("name"),
        F.when(
            eid % 5 == 0,
            F.concat(F.lit("crm"), (eid % 40).cast("string"), F.lit("@x.com")),
        ).alias("email"),
    )
    erp = ev.filter(eid % 7 == 1).select(
        ent,
        F.lit(2).alias("priority"),
        F.concat(F.lit("erp_name_"), (eid % 40).cast("string")).alias("name"),
        F.when(
            eid % 4 == 1,
            F.concat(F.lit("erp"), (eid % 40).cast("string"), F.lit("@x.com")),
        ).alias("email"),
    )
    web = ev.filter(eid % 7 == 2).select(
        ent,
        F.lit(3).alias("priority"),
        F.when(
            eid % 2 == 0, F.concat(F.lit("web_name_"), (eid % 40).cast("string"))
        ).alias("name"),
        F.concat(F.lit("web"), (eid % 40).cast("string"), F.lit("@x.com")).alias(
            "email"
        ),
    )
    sources = crm.unionAll(erp).unionAll(web)
    name_src = F.min(F.when(F.col("name").isNotNull(), F.col("priority")))
    email_src = F.min(F.when(F.col("email").isNotNull(), F.col("priority")))
    merged = sources.groupBy("entity_id").agg(
        name_src.cast("long").alias("name_source"),
        email_src.cast("long").alias("email_source"),
        F.min(
            F.when(
                F.col("name").isNotNull(),
                F.struct(F.col("priority"), F.col("name")),
            )
        )["name"].alias("name"),
        F.min(
            F.when(
                F.col("email").isNotNull(),
                F.struct(F.col("priority"), F.col("email")),
            )
        )["email"].alias("email"),
    )
    return merged.select(
        F.col("entity_id").cast("long").alias("entity_id"),
        "name_source",
        "name",
        "email_source",
        "email",
    )


@register(
    "cat_txn_conflict_detect",
    survey_row=61,
    oracle="""
    WITH txns AS (
        SELECT event_id % 60 AS txn_id,
               min(event_id) AS start_seq,
               min(event_id) + 40 + min(event_id) % 25 AS commit_seq,
               list_sort(list(DISTINCT 'p' || (event_id % 11)))
                   AS write_set
        FROM events WHERE event_id % 4 = 0
        GROUP BY event_id % 60
    ),
    pairs AS (
        SELECT a.txn_id AS txn_a, b.txn_id AS txn_b,
               a.commit_seq AS commit_a, b.commit_seq AS commit_b,
               len(list_intersect(a.write_set, b.write_set))
                   AS n_overlap
        FROM txns a JOIN txns b
          ON a.txn_id < b.txn_id
         AND a.start_seq < b.commit_seq
         AND b.start_seq < a.commit_seq
    )
    SELECT txn_a::BIGINT AS txn_a, txn_b::BIGINT AS txn_b,
           n_overlap::BIGINT AS n_overlap,
           (n_overlap > 0) AS write_write_conflict,
           CASE WHEN n_overlap > 0 AND commit_a < commit_b
                THEN txn_b
                WHEN n_overlap > 0 THEN txn_a END AS must_retry
    FROM pairs
    WHERE n_overlap > 0
    """,
)
def cat_txn_conflict_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMISTIC-CONCURRENCY conflict detection — the commit
    protocol underneath every lakehouse table format (Delta/Iceberg
    writers don't lock; they validate at commit time that no
    concurrent transaction touched the same partitions, and the
    LATER committer retries): transactions synthesized with
    lifetimes and partition write-sets; candidate pairs are
    TIME-OVERLAPPING transactions (the interval-overlap join — a
    serial pair can't conflict by definition); a conflict is a
    non-empty write-set intersection; the later committer carries
    the must_retry verdict — exactly Delta's
    ConcurrentAppendException decision.

    Write-sets stay as sorted arrays on |txn| metadata rows;
    overlap is array_intersect on the pair frame, which the
    interval predicate bounds (never txn²); at real scale the same
    check runs once per commit against open snapshots — this op is
    the batch-audit form that finds HISTORICAL races in a commit
    log."""
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    txns = (
        ev.filter(eid % 4 == 0)
        .groupBy((eid % 60).alias("txn_id"))
        .agg(
            F.min("event_id").alias("start_seq"),
            (F.min("event_id") + 40 + F.min("event_id") % 25).alias(
                "commit_seq"
            ),
            F.sort_array(
                F.collect_set(
                    F.concat(F.lit("p"), (eid % 11).cast("string"))
                )
            ).alias("write_set"),
        )
    )
    b = txns.select(
        F.col("txn_id").alias("txn_b"),
        F.col("start_seq").alias("start_b"),
        F.col("commit_seq").alias("commit_b"),
        F.col("write_set").alias("write_b"),
    )
    pairs = txns.join(
        F.broadcast(b),
        (F.col("txn_id") < F.col("txn_b"))
        & (F.col("start_seq") < F.col("commit_b"))
        & (F.col("start_b") < F.col("commit_seq")),
    ).select(
        F.col("txn_id").alias("txn_a"),
        "txn_b",
        F.col("commit_seq").alias("commit_a"),
        "commit_b",
        F.size(F.array_intersect("write_set", "write_b")).alias("n_overlap"),
    )
    return pairs.filter(F.col("n_overlap") > 0).select(
        F.col("txn_a").cast("long").alias("txn_a"),
        F.col("txn_b").cast("long").alias("txn_b"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        (F.col("n_overlap") > 0).alias("write_write_conflict"),
        F.when(
            (F.col("n_overlap") > 0) & (F.col("commit_a") < F.col("commit_b")),
            F.col("txn_b"),
        )
        .when(F.col("n_overlap") > 0, F.col("txn_a"))
        .alias("must_retry"),
    )


@register(
    "cat_audit_chain_verify",
    survey_row=61,
    oracle="""
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id,
               'ev' || event_id AS payload,
               CASE WHEN event_id % 83 = 7
                    THEN 'evX' || event_id ELSE 'ev' || event_id
               END AS stored_payload,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id) AS rn
        FROM events
    ),
    chain AS (
        SELECT user_id, rn,
               md5('genesis|' || payload) AS h_true,
               md5('genesis|' || stored_payload) AS h_stored
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn,
               md5(c.h_true || '|' || s.payload),
               md5(c.h_stored || '|' || s.stored_payload)
        FROM chain c JOIN seq s
          ON s.user_id = c.user_id AND s.rn = c.rn + 1
    )
    SELECT user_id,
           count(*)::BIGINT AS chain_len,
           bool_and(h_true = h_stored) AS chain_valid,
           min(CASE WHEN h_true <> h_stored THEN rn END)::BIGINT
               AS first_break
    FROM chain GROUP BY user_id
    """,
)
def cat_audit_chain_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAMPER-EVIDENT audit-chain verification — the integrity
    property compliance regimes demand of audit logs: each record's
    hash covers the previous record's hash, so editing ANY
    historical row changes every later link hash, and comparing the
    stored chain against a recomputation over trusted payloads
    localizes the tamper at the FIRST hash divergence (the cascade
    is the feature — one byte edited at rn=k diverges links k..n,
    and min(divergent rn) is the forensic cursor). Tampering is
    seeded on an 83-residue so the detector provably fires; clean
    keys must verify end-to-end.

    Both chains build in ONE per-key fold (h_true and h_stored
    advance together — the token-bucket automaton pattern with md5
    inside the lambda; state is O(1) per key regardless of chain
    length), and the oracle single-steps the identical double
    recurrence by recursive CTE. Sequential per key, parallel
    across keys."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        "user_id",
        F.concat(F.lit("ev"), F.col("event_id").cast("string")).alias(
            "payload"
        ),
        F.when(
            F.col("event_id") % 83 == 7,
            F.concat(F.lit("evX"), F.col("event_id").cast("string")),
        )
        .otherwise(F.concat(F.lit("ev"), F.col("event_id").cast("string")))
        .alias("stored_payload"),
        F.row_number().over(w).alias("rn"),
    )
    folded = (
        seq.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("rn", "payload", "stored_payload"))
            ).alias("links")
        )
        .select(
            "user_id",
            F.size("links").alias("chain_len"),
            F.aggregate(
                "links",
                F.struct(
                    F.lit("genesis").alias("h_true"),
                    F.lit("genesis").alias("h_stored"),
                    F.lit(True).alias("ok"),
                    F.lit(None).cast("int").alias("first_break"),
                ),
                lambda st, e: F.struct(
                    F.md5(
                        F.concat(st["h_true"], F.lit("|"), e["payload"])
                    ).alias("h_true"),
                    F.md5(
                        F.concat(
                            st["h_stored"], F.lit("|"), e["stored_payload"]
                        )
                    ).alias("h_stored"),
                    (
                        st["ok"]
                        & (
                            F.md5(
                                F.concat(
                                    st["h_true"], F.lit("|"), e["payload"]
                                )
                            )
                            == F.md5(
                                F.concat(
                                    st["h_stored"],
                                    F.lit("|"),
                                    e["stored_payload"],
                                )
                            )
                        )
                    ).alias("ok"),
                    F.coalesce(
                        st["first_break"],
                        F.when(
                            F.md5(
                                F.concat(
                                    st["h_true"], F.lit("|"), e["payload"]
                                )
                            )
                            != F.md5(
                                F.concat(
                                    st["h_stored"],
                                    F.lit("|"),
                                    e["stored_payload"],
                                )
                            ),
                            e["rn"],
                        ),
                    ).alias("first_break"),
                ),
            ).alias("st"),
        )
    )
    return folded.select(
        "user_id",
        F.col("chain_len").cast("long").alias("chain_len"),
        F.col("st.ok").alias("chain_valid"),
        F.col("st.first_break").cast("long").alias("first_break"),
    )


@register(
    "cat_benford_audit",
    survey_row=64,
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(round(o_totalprice, 2) * 100
                        + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
                   AS d
        FROM orders
        WHERE o_totalprice > 0
    ),
    obs AS (
        SELECT d, count(*) AS n,
               sum(count(*)) OVER () AS total
        FROM digits GROUP BY d
    )
    SELECT d,
           n::BIGINT AS n,
           round(n * 1.0 / total, 6) AS observed_p,
           round(log10(1 + 1.0 / d), 6) AS benford_p,
           round(abs(n * 1.0 / total - log10(1 + 1.0 / d)), 6)
               AS abs_dev
    FROM obs
    """,
)
def cat_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit — the forensic screen
    accountants and data-quality teams run on any naturally-grown
    monetary column (organic amounts follow P(d) = log₁₀(1+1/d) —
    30 % leading 1s; fabricated, capped, or unit-mangled data
    doesn't, and the per-digit deviation table is the forensic
    lead): leading digits extracted from exact integer cents (string
    head of an int — no float log tricks on the extraction path),
    observed shares against the closed-form Benford expectation,
    deviation per digit.

    One 9-row group-agg with map-side combine; the expectation is
    nine fixed log10 calls on constants (engine-identical). The
    fixture's synthetic prices need NOT follow Benford — the gate
    checks the AUDIT's arithmetic, and the deviation column is
    exactly what flags synthetic data in real life (a
    nicely self-referential property)."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.floor(F.round("o_totalprice", 2) * 100 + 0.5)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    benford = F.log10(1 + 1.0 / F.col("d"))
    return obs.select(
        "d",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(total), 6).alias("observed_p"),
        F.round(benford, 6).alias("benford_p"),
        F.round(
            F.abs(F.col("n") / F.sum("n").over(total) - benford), 6
        ).alias("abs_dev"),
    )


@register(
    "cat_consistent_hash_ring",
    survey_row=63,
    oracle="""
    WITH nodes AS (
        SELECT 'node' || i AS node,
               CAST(('0x' || substr(md5('ring:node' || i), 1, 8))
                    AS BIGINT) AS pos
        FROM range(8) t(i)
    ),
    keys_ AS (
        SELECT DISTINCT 'p' || (event_id % 500) AS pkey,
               CAST(('0x' || substr(md5('key:p' || (event_id % 500)), 1, 8))
                    AS BIGINT) AS kpos
        FROM events
    ),
    owner AS (
        SELECT k.pkey, k.kpos,
               coalesce(
                   min(n.node) FILTER (WHERE n.pos >= k.kpos
                       AND n.pos = (SELECT min(n2.pos) FROM nodes n2
                                    WHERE n2.pos >= k.kpos)),
                   (SELECT min_by(n3.node, n3.pos) FROM nodes n3)
               ) AS owner_full
        FROM keys_ k CROSS JOIN nodes n
        GROUP BY k.pkey, k.kpos
    ),
    owner7 AS (
        SELECT k.pkey,
               coalesce(
                   min(n.node) FILTER (WHERE n.pos >= k.kpos
                       AND n.pos = (SELECT min(n2.pos) FROM nodes n2
                                    WHERE n2.pos >= k.kpos
                                      AND n2.node <> 'node3')),
                   (SELECT min_by(n3.node, n3.pos) FROM nodes n3
                    WHERE n3.node <> 'node3')
               ) AS owner_without3
        FROM keys_ k CROSS JOIN nodes n
        WHERE n.node <> 'node3'
        GROUP BY k.pkey, k.kpos
    )
    SELECT o.owner_full AS node,
           count(*)::BIGINT AS n_keys,
           count(*) FILTER (WHERE o.owner_full <> w.owner_without3)
               ::BIGINT AS n_moved_if_node3_lost,
           bool_and(CASE WHEN o.owner_full = 'node3'
                         THEN o.owner_full <> w.owner_without3
                         ELSE o.owner_full = w.owner_without3 END)
               AS only_node3_keys_move
    FROM owner o JOIN owner7 w ON w.pkey = o.pkey
    GROUP BY o.owner_full
    """,
)
def cat_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSISTENT-HASH ring assignment — the shard-placement
    algorithm under every distributed metastore cache and
    partitioned service (keys and nodes hash onto one ring; a key
    belongs to the first node clockwise; losing a node moves ONLY
    that node's keys — the 1/n-disruption property that naive
    `hash % n` placement catastrophically lacks, since `% (n-1)`
    reshuffles nearly everything): 500 partitions assigned across 8
    ring nodes, then re-assigned with node3 removed, and the
    per-node report gates BOTH distributions AND the membership
    invariant itself (keys that move are exactly node3's — the
    only_node3_keys_move column is the theorem, hash-checked).

    The ring is a broadcast |nodes| dim; ownership is the
    min-position-≥-key reduce with wraparound coalesce; both
    assignments share one pass. At scale this IS how the collector
    assigns partitions to collector workers."""
    ev = load_table(spark, sf_dir, "events")

    def h(prefix, col):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 8), 16, 10
        ).cast("long")

    nodes = spark.range(8).select(
        F.concat(F.lit("node"), F.col("id").cast("string")).alias("node"),
    )
    nodes = nodes.select(
        "node", h("ring:", F.col("node")).alias("pos")
    ).cache()
    keys_ = (
        ev.select(
            F.concat(F.lit("p"), (F.col("event_id") % 500).cast("string")).alias(
                "pkey"
            )
        )
        .distinct()
        .select("pkey", h("key:", F.col("pkey")).alias("kpos"))
    )

    def assign(node_df, out_col):
        j = keys_.crossJoin(F.broadcast(node_df))
        return j.groupBy("pkey", "kpos").agg(
            F.coalesce(
                F.min_by(
                    "node",
                    F.when(F.col("pos") >= F.col("kpos"), F.col("pos")),
                ),
                F.min_by("node", F.col("pos")),
            ).alias(out_col)
        )

    full = assign(nodes, "owner_full")
    reduced = assign(
        nodes.filter(F.col("node") != "node3"), "owner_without3"
    ).select("pkey", "owner_without3")
    j = full.join(reduced, "pkey")
    moved = F.col("owner_full") != F.col("owner_without3")
    return j.groupBy(F.col("owner_full").alias("node")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.count(F.when(moved, 1)).alias("n_moved_if_node3_lost"),
        # bool_and via min(): node3's keys must ALL move, every other
        # node's keys must ALL stay — the 1/n-disruption theorem
        F.min(
            F.when(F.col("owner_full") == "node3", moved).otherwise(~moved)
        ).alias("only_node3_keys_move"),
    )


@register(
    "cat_crdt_counter_merge",
    survey_row=61,
    oracle="""
    WITH truth AS (
        SELECT event_type, user_id % 4 AS node, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    replicas AS (
        -- each replica has a STALE view of the other nodes: it saw
        -- only a deterministic prefix fraction of their counts, but
        -- ALL of its own
        SELECT t.event_type, r.replica, t.node,
               CASE WHEN t.node = r.replica THEN t.n
                    ELSE t.n - (t.n * ((t.node + r.replica) % 3)) // 4
               END AS seen
        FROM truth t CROSS JOIN range(4) r(replica)
    ),
    merged AS (
        SELECT event_type, node, max(seen) AS merged_n
        FROM replicas GROUP BY event_type, node
    )
    SELECT m.event_type,
           sum(m.merged_n)::BIGINT AS merged_total,
           sum(t.n)::BIGINT AS true_total,
           bool_and(m.merged_n = t.n) AS converged
    FROM merged m JOIN truth t
      ON t.event_type = m.event_type AND t.node = m.node
    GROUP BY m.event_type
    """,
)
def cat_crdt_counter_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRDT G-COUNTER merge — the replication semantics under every
    eventually-consistent metric pipeline (four collector replicas
    each count their own node's events completely but hold STALE
    views of the others; naive averaging or last-write-wins both
    corrupt the total): the grow-only counter's merge is
    per-(key, node) MAX across replica views, then sum — and
    because every node's own view is authoritative and max is the
    join of the lattice, the merged total provably equals the true
    total, which the `converged` column gates per key. Staleness is
    seeded deterministically (each replica missing a residue-derived
    fraction of foreign counts) so the merge genuinely repairs
    divergent states rather than passing through equal inputs.

    One |keys|×|nodes|×|replicas| metadata frame; merge = one max
    agg + one sum — commutative, associative, idempotent (the CRDT
    laws ARE the mergeable-aggregate properties every sketch op
    here relies on, stated at their source)."""
    ev = load_table(spark, sf_dir, "events")
    truth = ev.groupBy(
        "event_type", (F.col("user_id") % 4).alias("node")
    ).agg(F.count(F.lit(1)).alias("n"))
    replicas = (
        truth.crossJoin(
            F.broadcast(
                spark.range(4).select(F.col("id").cast("long").alias("replica"))
            )
        )
        .select(
            "event_type",
            "replica",
            "node",
            F.when(F.col("node") == F.col("replica"), F.col("n"))
            .otherwise(
                F.col("n")
                - F.floor(
                    (F.col("n") * ((F.col("node") + F.col("replica")) % 3)) / 4
                )
            )
            .alias("seen"),
        )
    )
    merged = replicas.groupBy("event_type", "node").agg(
        F.max("seen").alias("merged_n")
    )
    t = truth.select(
        F.col("event_type").alias("t_type"),
        F.col("node").alias("t_node"),
        F.col("n"),
    )
    return (
        merged.join(
            t,
            (F.col("event_type") == F.col("t_type"))
            & (F.col("node") == F.col("t_node")),
        )
        .groupBy("event_type")
        .agg(
            F.sum("merged_n").cast("long").alias("merged_total"),
            F.sum("n").cast("long").alias("true_total"),
            F.min(F.col("merged_n") == F.col("n")).alias("converged"),
        )
    )


@register(
    "cat_dead_column_detect",
    survey_row=62,
    oracle="""
    WITH inv AS (
        SELECT table_name, column_name, ordinal_position AS ordinal
        FROM information_schema.columns
        WHERE table_name IN ('orders', 'customer', 'lineitem')
    ),
    refs AS (
        SELECT DISTINCT
               CASE event_id % 3 WHEN 0 THEN 'orders'
                    WHEN 1 THEN 'customer' ELSE 'lineitem' END
                   AS table_name,
               CASE event_id % 3
                    WHEN 0 THEN event_id % 4 + 1
                    WHEN 1 THEN event_id % 2 + 1
                    ELSE event_id % 6 + 1 END AS ordinal
        FROM events
    )
    SELECT inv.table_name, inv.column_name, inv.ordinal::BIGINT AS ordinal
    FROM inv
    WHERE NOT EXISTS (
        SELECT 1 FROM refs
        WHERE refs.table_name = inv.table_name
          AND refs.ordinal = inv.ordinal)
    ORDER BY table_name, ordinal
    """,
)
def cat_dead_column_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEAD-column detection — schema inventory ANTI-JOINED against
    the columns the query log actually references: columns no query
    has touched are the drop / stop-collecting-stats / tier-to-cold
    candidates every catalog review hunts manually. The reference
    set is synthesized from the audit-log stream on residue classes
    (each table's low-ordinal columns are hot, its tail ordinals
    never referenced — mirroring the real skew where audit logs hit
    keys and timestamps while legacy columns rot).

    The inventory side is metadata-only (parquet footers via the
    cat_schema_inventory path — no data scan); the reference side
    collapses to DISTINCT (table, ordinal) pairs map-side before a
    broadcast anti-join against the |columns|-sized inventory. At
    100 TB of query log the anti-join's build side is still just
    the schema."""
    rows = []
    for t in ("orders", "customer", "lineitem"):
        for i, f in enumerate(load_table(spark, sf_dir, t).schema.fields):
            rows.append((t, f.name, i + 1))
    inv = spark.createDataFrame(
        rows, "table_name string, column_name string, ordinal long"
    )
    ev = load_table(spark, sf_dir, "events")
    refs = ev.select(
        F.when(F.col("event_id") % 3 == 0, "orders")
        .when(F.col("event_id") % 3 == 1, "customer")
        .otherwise("lineitem")
        .alias("table_name"),
        F.when(F.col("event_id") % 3 == 0, F.col("event_id") % 4 + 1)
        .when(F.col("event_id") % 3 == 1, F.col("event_id") % 2 + 1)
        .otherwise(F.col("event_id") % 6 + 1)
        .cast("long")
        .alias("ordinal"),
    ).distinct()
    return (
        inv.join(refs, ["table_name", "ordinal"], "left_anti")
        .select("table_name", "column_name", "ordinal")
        .orderBy("table_name", "ordinal")
    )


@register(
    "cat_bh_fdr",
    survey_row=64,
    oracle="""
    WITH metrics AS (
        SELECT * FROM (VALUES ('null_rate'), ('mean_shift'),
                              ('p95_shift'), ('distinct_ratio')) t(metric)
    ),
    hyp AS (
        SELECT n.n_name AS segment, m.metric,
               CAST('0x' || substring(md5(n.n_name || ':' || m.metric),
                                      1, 8) AS BIGINT) AS h
        FROM nation n JOIN metrics m ON true
    ),
    pv AS (
        SELECT segment, metric,
               CASE WHEN h % 7 = 0 THEN h % 3000
                    ELSE h % 1000000 END AS p_micro
        FROM hyp
    ),
    ranked AS (
        SELECT segment, metric, p_micro,
               row_number() OVER (ORDER BY p_micro, segment, metric)
                   AS rank_i,
               count(*) OVER () AS m
        FROM pv
    ),
    kmax AS (
        SELECT max(CASE WHEN p_micro * m * 20 <= rank_i * 1000000
                        THEN rank_i ELSE 0 END) AS k
        FROM ranked
    )
    SELECT segment, metric, p_micro::BIGINT AS p_micro,
           rank_i::BIGINT AS rank_i,
           rank_i <= kmax.k AS rejected
    FROM ranked, kmax
    ORDER BY rank_i
    """,
)
def cat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI–HOCHBERG FDR CORRECTION — the multiple-testing
    control a drift monitor MUST apply before paging anyone: with
    100 segment×metric drift tests at α=0.05, five "significant"
    results are expected under pure noise; BH's step-up rule (reject
    the k smallest p-values where k = max{i : p(i) ≤ α·i/m})
    controls the false-discovery rate instead. Companion to this
    module's per-test statistics (chi², PSI, Welch, KS) — they emit
    the p-values, this op decides which survive as a BATTERY.

    The test battery is synthesized per house convention (md5-uniform
    micro-unit p-values per (segment, metric), with a deterministic
    subfamily forced small to model real drift); the BH machinery is
    the content: the step-up comparison is the exact integer
    cross-multiplication 20·p_micro·m ≤ i·10⁶ (α = 1/20 — no float
    threshold anywhere), and the step-UP subtlety (a non-significant
    p can be rescued by a later rank satisfying the bound) is
    preserved by taking k = max satisfying rank, then rejecting ALL
    i ≤ k.

    Scale shape: p-values are one row per hypothesis — metadata
    scale by construction (the data-sized work happened in the
    upstream tests). The global sort is |hypotheses| rows; m and k
    are single-row broadcast aggregates."""
    n = load_table(spark, sf_dir, "nation")
    metrics = spark.createDataFrame(
        [("null_rate",), ("mean_shift",), ("p95_shift",), ("distinct_ratio",)],
        "metric string",
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("n_name"), F.col("metric"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    pv = n.crossJoin(F.broadcast(metrics)).select(
        F.col("n_name").alias("segment"),
        "metric",
        F.when(h % 7 == 0, h % 3000).otherwise(h % 1000000).alias("p_micro"),
    )
    wrank = Window.orderBy("p_micro", "segment", "metric")
    wall = Window.partitionBy()
    ranked = pv.select(
        "segment",
        "metric",
        "p_micro",
        F.row_number().over(wrank).alias("rank_i"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    kmax = ranked.agg(
        F.max(
            F.when(
                F.col("p_micro") * F.col("m") * 20
                <= F.col("rank_i") * 1000000,
                F.col("rank_i"),
            ).otherwise(0)
        ).alias("k")
    )
    return (
        ranked.join(F.broadcast(kmax))
        .select(
            "segment",
            "metric",
            F.col("p_micro").cast("long").alias("p_micro"),
            F.col("rank_i").cast("long").alias("rank_i"),
            (F.col("rank_i") <= F.col("k")).alias("rejected"),
        )
        .orderBy("rank_i")
    )


@register(
    "cat_data_contract_check",
    survey_row=62,
    oracle="""
    WITH checks AS (
        SELECT 'orders.o_custkey not_null' AS check_name,
               'orders' AS table_name,
               count(*) AS n_rows,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                   AS n_violations
        FROM orders
        UNION ALL
        SELECT 'orders.o_orderkey unique', 'orders',
               count(*), count(*) - count(DISTINCT o_orderkey)
        FROM orders
        UNION ALL
        SELECT 'orders.o_totalprice range[0,600000]', 'orders',
               count(*),
               sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 600000
                        THEN 1 ELSE 0 END)
        FROM orders
        UNION ALL
        SELECT 'orders.o_orderstatus in {O,F,P}', 'orders',
               count(*),
               sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                        THEN 1 ELSE 0 END)
        FROM orders
        UNION ALL
        SELECT 'orders.o_custkey -> customer.c_custkey', 'orders',
               count(*),
               sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem.l_quantity range[1,50]', 'lineitem',
               count(*),
               sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.(l_orderkey,l_linenumber) unique', 'lineitem',
               count(*),
               count(*) - count(DISTINCT l_orderkey * 100 + l_linenumber)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.l_returnflag in {A,N,R}', 'lineitem',
               count(*),
               sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                        THEN 1 ELSE 0 END)
        FROM lineitem
    )
    SELECT check_name, table_name, n_rows::BIGINT AS n_rows,
           n_violations::BIGINT AS n_violations,
           n_violations = 0 AS passed
    FROM checks ORDER BY check_name
    """,
)
def cat_data_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONTRACT EXPECTATIONS battery — the dbt-test /
    Great-Expectations surface a metadata collector runs on every
    ingest: not_null, unique (single and composite key),
    accepted_range, accepted_values, and referential relationship,
    each reported as (rows scanned, violations, verdict) so a CI gate
    can fail the pipeline on any non-zero violation count. Every
    check is COUNTING, never sampling — the violation count is the
    audit artifact.

    Scale shape: each table is scanned ONCE per check family with
    map-side-combined counting aggregates (uniqueness via
    count−count(distinct), which Spark executes as a two-stage
    partial/final distinct — no row-level sort); the referential
    check is a left anti-ish join counted on the probe side with the
    dim broadcastable. The union of eight 1-row results is metadata.
    The composite-key check encodes (orderkey, linenumber) into one
    int64 (linenumber < 100 by TPC-H construction) so distinct-count
    stays a single-column hash on both engines."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    def row(name, table, df_agg):
        return df_agg.select(
            F.lit(name).alias("check_name"),
            F.lit(table).alias("table_name"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_violations").cast("long").alias("n_violations"),
        )

    checks = [
        row(
            "orders.o_custkey not_null",
            "orders",
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
                ).alias("n_violations"),
            ),
        ),
        row(
            "orders.o_orderkey unique",
            "orders",
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
                    "n_violations"
                ),
            ),
        ),
        row(
            "orders.o_totalprice range[0,600000]",
            "orders",
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(
                        (F.col("o_totalprice") < 0)
                        | (F.col("o_totalprice") > 600000),
                        1,
                    ).otherwise(0)
                ).alias("n_violations"),
            ),
        ),
        row(
            "orders.o_orderstatus in {O,F,P}",
            "orders",
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(
                        ~F.col("o_orderstatus").isin("O", "F", "P"), 1
                    ).otherwise(0)
                ).alias("n_violations"),
            ),
        ),
        row(
            "orders.o_custkey -> customer.c_custkey",
            "orders",
            # Referential check: NO broadcast hint — customer is
            # fact-sized (1.5B keys at 100 TB), so forcing the keyset
            # into one broadcast block would OOM at scale. AQE picks
            # broadcast when the keyset is actually small; otherwise
            # both sides shuffle on the key, which is the right plan
            # for fact→fact referential integrity.
            o.join(
                cust.select("c_custkey"),
                o["o_custkey"] == cust["c_custkey"],
                "left",
            ).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
                ).alias("n_violations"),
            ),
        ),
        row(
            "lineitem.l_quantity range[1,50]",
            "lineitem",
            li.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(
                        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
                        1,
                    ).otherwise(0)
                ).alias("n_violations"),
            ),
        ),
        row(
            "lineitem.(l_orderkey,l_linenumber) unique",
            "lineitem",
            li.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (
                    F.count(F.lit(1))
                    - F.countDistinct(
                        F.col("l_orderkey") * 100 + F.col("l_linenumber")
                    )
                ).alias("n_violations"),
            ),
        ),
        row(
            "lineitem.l_returnflag in {A,N,R}",
            "lineitem",
            li.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(
                        ~F.col("l_returnflag").isin("A", "N", "R"), 1
                    ).otherwise(0)
                ).alias("n_violations"),
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.select(
        "check_name",
        "table_name",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("check_name")
