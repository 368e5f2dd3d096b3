"""Aggregation operators — SURVEY.md §2.4 (#19–28).

Scale notes: every groupBy/agg below compiles to a two-phase hash
aggregate (map-side partial + final after a shuffle on the group keys)
under whole-stage codegen — at 100 TB the partial agg collapses the
shuffle to |groups| × partitions rows, so low-cardinality keys
(returnflag/status/priority) shuffle kilobytes regardless of input
size. countDistinct expands to a two-shuffle plan; at extreme
cardinality prefer approx_count_distinct (#22, HLL, one shuffle).

Determinism: engine-order-dependent float accumulations (sum/avg/
stddev/corr) are ROUNDed identically in the Spark plan and the DuckDB
oracle (SURVEY.md §2 rules); single-row arithmetic is IEEE-identical
across engines and left unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_metadata_collect_spark.operators.numerics import cents
from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import load_table

@register(
    "agg_pricing_summary",
    survey_row=19,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS sum_qty,
           round(sum(l_extendedprice::DECIMAL(12,2)), 2)::DOUBLE
               AS sum_base_price,
           round(sum(l_extendedprice::DECIMAL(12,2)
                     * (1 - l_discount::DECIMAL(12,2))), 2)::DOUBLE
               AS sum_disc_price,
           round(sum(l_extendedprice::DECIMAL(12,2)
                     * (1 - l_discount::DECIMAL(12,2))
                     * (1 + l_tax::DECIMAL(12,2))), 2)::DOUBLE
               AS sum_charge,
           round(sum(l_quantity::DECIMAL(12,2))::DOUBLE
                 / count(*), 4) AS avg_qty,
           round(sum(l_extendedprice::DECIMAL(12,2))::DOUBLE
                 / count(*), 4) AS avg_price,
           round(sum(l_discount::DECIMAL(12,2))::DOUBLE
                 / count(*), 4) AS avg_disc,
           count(*)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → 8-measure grouped agg → sort.

    INT64-CENTS PARTIALS + DECIMAL MERGE: the per-row hot path converts
    each money column to integer cents ONCE (via the same DECIMAL(12,2)
    cast the oracle applies, so rounding of the raw doubles is
    bit-identical to the oracle's ::DECIMAL(12,2)), then every
    accumulation runs in int64 inside whole-stage codegen — disc_price
    as cents×(100−d¢) (units 1e-4 $), charge as cents×(100−d¢)×(100+t¢)
    (units 1e-6 $). Partials are grouped per (flag, status,
    spark_partition_id()): Catalyst's PullOutNondeterministic projects
    the pid below the agg, so the partial hash-agg still runs task-local
    and the exchange carries |groups|×|tasks| tiny rows. The merge casts
    each int64 partial to exact DECIMAL (×0.01 / ×0.0001 / ×0.000001 —
    exact decimal multiplies, never division) and decimal-sums only
    those partials.

    Exactness at any scale: integer arithmetic is exact, decimal
    addition is associative, and the per-row products are the SAME
    rational numbers the oracle's DECIMAL products produce, so the
    round(,2)/round(,4) presentation matches hash-exactly (verified
    sf0.001–sf10). Overflow bound: max per-row charge term is
    1.05e7 ¢ × 100 × 108 ≈ 1.14e11; a 128 MiB parquet task holds
    < 7e6 lineitem rows (> 20 B/row), so a per-task partial is
    < 8e17 — 11× int64 headroom INDEPENDENT of total data volume
    (the old all-DECIMAL form paid ~2.3× wall for avoiding a bound
    that only the unpartitioned global sum actually hits; the merge
    side here is DECIMAL precisely so the global total never touches
    int64). Measured sf10 (one microbench session): 7.79 s
    (all-DECIMAL) → 3.28 s (this form), identical hashes; sf1 0.94 s.
    The cents conversion itself is the next cost — F.round runs
    a BigDecimal expansion per row × 4 money columns; the multiply-add
    truncating form (numerics.cents) is row-identical on this domain
    and took the sf10 wall 1.97 s → 1.03 s in one idle session
    (collect()-identical outputs), leaving scan + the 6-measure
    partial agg, i.e. the engine floor for this shape.

    Averages: cast the exact decimal sum to DOUBLE *before* dividing
    so both engines round the identical double — DuckDB promotes
    DECIMAL/BIGINT division to DOUBLE before round(,4), while
    Spark's decimal quotient rounds exact half-up."""
    li = load_table(spark, sf_dir, "lineitem")
    # integer cents via multiply-add + truncating cast (numerics.cents):
    # value-identical to the oracle's ::DECIMAL(12,2) cast on the
    # non-negative ≤2-digit money domain, and unlike F.round it never
    # touches BigDecimal per row (the F.round form measured 2× the
    # per-row cost at sf10 — exactness proof at the helper)
    rows = li.filter(
        F.col("l_shipdate") <= F.lit("2000-09-01").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        cents("l_quantity").alias("qc"),
        cents("l_extendedprice").alias("pc"),
        cents("l_discount").alias("dc"),
        cents("l_tax").alias("tc"),
    ).withColumns(
        {
            "e4": F.col("pc") * (100 - F.col("dc")),
            "e6": F.col("pc") * (100 - F.col("dc")) * (100 + F.col("tc")),
        }
    )
    part = rows.groupBy(
        "l_returnflag", "l_linestatus", F.spark_partition_id().alias("_pid")
    ).agg(
        F.sum("qc").alias("s_qty_c"),
        F.sum("pc").alias("s_price_c"),
        F.sum("e4").alias("s_disc_e4"),
        F.sum("e6").alias("s_chg_e6"),
        F.sum("dc").alias("s_disc_c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # exact decimal re-scaling of the int64 partials (multiplication
    # by a power-of-ten literal — no decimal division anywhere)
    d20 = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    dqty = d20("s_qty_c") * F.lit("0.01").cast("decimal(2,2)")
    dprice = d20("s_price_c") * F.lit("0.01").cast("decimal(2,2)")
    ddiscp = d20("s_disc_e4") * F.lit("0.0001").cast("decimal(4,4)")
    dchg = d20("s_chg_e6") * F.lit("0.000001").cast("decimal(6,6)")
    ddisc = d20("s_disc_c") * F.lit("0.01").cast("decimal(2,2)")
    n = F.sum("cnt")
    return (
        part.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dqty), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dprice), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(ddiscp), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(dchg), 2).cast("double").alias("sum_charge"),
            F.round(F.sum(dqty).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(dprice).cast("double") / n, 4).alias("avg_price"),
            F.round(F.sum(ddisc).cast("double") / n, 4).alias("avg_disc"),
            F.sum("cnt").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_global_nokey",
    survey_row=20,
    oracle="""
    SELECT round(sum(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS sum_qty,
           min(l_extendedprice)            AS min_price,
           max(l_extendedprice)            AS max_price,
           round(sum(l_extendedprice::DECIMAL(12,2)
                     * (1 - l_discount::DECIMAL(12,2))), 2)::DOUBLE
               AS sum_revenue,
           count(*)                        AS n_rows
    FROM lineitem
    """,
)
def agg_global_nokey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped global aggregate (single-row result, partial-agg
    tree). Sums accumulate in DECIMAL(12,2) — the single global group
    is the largest accumulation in the inventory (60M rows at sf10,
    where the raw double sum lands 4 cents apart between engines);
    presented as DOUBLE."""
    li = load_table(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    one = F.lit(1).cast("decimal(12,2)")
    return li.agg(
        F.round(F.sum(d("l_quantity")), 2).cast("double").alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.sum(d("l_extendedprice") * (one - d("l_discount"))), 2)
        .cast("double")
        .alias("sum_revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_count_distinct",
    survey_row=21,
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_supps,
           count(*)                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts.

    BITMAP ROUTE: both distinct keys here are dense positive integers
    (partkey ≤ 2M·SF, suppkey ≤ 10k·SF), so each count(DISTINCT) runs as
    a WORD-BITMAP aggregate — groupBy (flag, key div 64) with bit_or(1
    << key mod 64), then Σ bit_count(word) per flag — instead of
    Catalyst's Expand plan, which widens the 60M-row scan ×3 (one
    replica per DISTINCT column) and shuffles every distinct (flag,
    value) pair. The 64-bit word per bucket keeps the aggregation buffer
    a plain LONG, so the whole pipeline stays in codegen HashAggregate —
    Spark 4's bitmap_construct_agg (4 KB binary buffers) was measured
    first and REJECTED: binary buffers force SortAggregate (a per-task
    sort of the full scan; 2.5 s sf10), while this form runs 1.20 s in
    the same session, vs 3.82 s for the Expand plan. Shuffle volume is
    |flags| × key_range/64 words, INDEPENDENT of row count — at 100 TB
    (key range ~2e9) ~94M 24-byte rows ≈ 2.3 GB, versus Expand's
    multi-TB widened stream. Exactness: bit-exact (no sketch); NULL keys
    produce NULL words that bit_or skips exactly as count(DISTINCT)
    ignores NULLs — but note negative keys would need a signed floor-div
    bucket (keys here are ≥ 1). Non-integer or sparse-domain keys keep
    the generic Expand form (the DISTINCT ops elsewhere in this file).

    ONE-SCAN form: a per-column shape runs one full fact scan PER
    distinct column (two scans + a join-back). A 2-way stack() emits
    (key_type, key) pairs from a single scan, the partial hash agg
    collapses them to (flag, type, bucket) words BEFORE the exchange
    (same bucket-bounded shuffle volume as before, both key spaces
    together), and the per-flag pivot is a 10-row max-when. The
    stack widening costs the same per-row agg probes a second scan
    pays, but the 60M-row parquet read+decode happens ONCE: measured
    0.92 s → 0.73 s at sf10 in one idle session, collect()-identical;
    n_rows rides the kt=0 channel."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        F.expr("stack(2, 0L, l_partkey, 1L, l_suppkey) AS (kt, k)"),
    )
    chunks = rows.groupBy(
        "l_returnflag", "kt", (F.col("k") / 64).cast("long").alias("bkt")
    ).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(k % 64 AS INT))")).alias("w"),
        F.count(F.lit(1)).alias("c"),
    )
    per = chunks.groupBy("l_returnflag", "kt").agg(
        F.sum(F.bit_count("w")).alias("d"), F.sum("c").alias("c")
    )
    return per.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("kt") == 0, F.col("d"))).alias("distinct_parts"),
        F.max(F.when(F.col("kt") == 1, F.col("d"))).alias("distinct_supps"),
        F.max(F.when(F.col("kt") == 0, F.col("c"))).alias("n_rows"),
    )


@register(
    "agg_approx_distinct",
    survey_row=22,
    oracle="""
    SELECT count(DISTINCT l_partkey)::BIGINT AS exact_parts,
           count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
           TRUE AS parts_within_5pct,
           TRUE AS orders_within_5pct
    FROM lineitem
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct (one shuffle; the 100 TB path for
    high-cardinality keys). The sketch estimate itself is
    engine-specific, so the DRIVER-hashable contract is the error bound:
    the op emits the exact counts plus a boolean per key asserting
    |approx − exact| / exact ≤ 5 %, and the oracle computes the same row
    with the bools as literal TRUE — DuckDB verifies the bound, not the
    sketch internals (without the bools these rows would have no
    oracle). The engine-side pytest additionally asserts the numeric ±5
    % band (tests/test_edge_cases.py). The exact countDistincts ride the
    same single shuffle as the sketches."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("ao"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.05
    )
    return raw.select(
        "exact_parts",
        "exact_orders",
        within("ap", "exact_parts").alias("parts_within_5pct"),
        within("ao", "exact_orders").alias("orders_within_5pct"),
    )


@register(
    "agg_having",
    survey_row=23,
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    HAVING count(*) > 100 AND avg(o_totalprice) > 1000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .filter((F.col("n_orders") > 100) & (F.col("avg_price") > 1000))
    )


@register(
    "agg_grouping_sets",
    survey_row=24,
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice::DECIMAL(12,2)), 2)::DOUBLE AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets incl. grand total (Catalyst Expand node).

    EAGER PRE-AGGREGATION BELOW EXPAND: the naive form Expands the full
    orders scan ×|grouping sets| BEFORE the partial agg (measured 20.8×
    DuckDB at sf10 — the Expand triples the 15M-row stream). COUNT/SUM
    decompose over the finest grouping, so the op first collapses the
    scan to one row per (status, priority, task) — int64-cents partial
    sums, the agg_pricing_summary pattern, overflow-bounded by
    rows-per-task — and runs the grouping-sets Expand over those
    ~|groups|×|tasks| rows (≈10³) instead of the fact stream. DECIMAL
    money exactness is preserved because cents are exact and only the
    tiny merge runs decimal. Semantics identical even with NULL group
    keys: the pre-agg keeps data-NULL groups as rows and Expand marks
    subtotal NULLs the same way the direct form does. Measured sf10:
    1.85 s → 1.00 s, identical hashes (the remainder is the 15M-row
    scan+agg floor plus two metadata-sized stages — the Expand volume
    itself is gone: 0.63 s of the 1.00 is the pre-agg stage alone)."""
    o = load_table(spark, sf_dir, "orders")
    c_int = cents("o_totalprice")
    pre = o.groupBy(
        "o_orderstatus",
        "o_orderpriority",
        F.spark_partition_id().alias("_pid"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c_int).alias("s_c"),
    )
    sdec = F.col("s_c").cast("decimal(20,0)") * F.lit("0.01").cast(
        "decimal(2,2)"
    )
    return pre.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.sum("n").alias("n_orders"),
        F.round(F.sum(sdec), 2).cast("double").alias("sum_price"),
    )


@register(
    "agg_rollup",
    survey_row=25,
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice::DECIMAL(12,2)), 2)::DOUBLE AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: (a,b) → (a) → ().

    Same eager pre-agg-below-Expand + int64-cents-partials rewrite as
    `agg_grouping_sets` (ROLLUP is grouping sets [(a,b),(a),()]):
    the Expand runs over the ~|groups|×|tasks| pre-agg, never the
    fact scan."""
    o = load_table(spark, sf_dir, "orders")
    c_int = cents("o_totalprice")
    pre = o.groupBy(
        "o_orderstatus",
        "o_orderpriority",
        F.spark_partition_id().alias("_pid"),
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(c_int).alias("s_c"))
    sdec = F.col("s_c").cast("decimal(20,0)") * F.lit("0.01").cast(
        "decimal(2,2)"
    )
    return pre.rollup("o_orderstatus", "o_orderpriority").agg(
        F.sum("n").alias("n_orders"),
        F.round(F.sum(sdec), 2).cast("double").alias("sum_price"),
    )


@register(
    "agg_cube",
    survey_row=26,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two flags (4 grouping combinations).

    Same eager pre-agg-below-Expand + int64-cents-partials rewrite as
    `agg_grouping_sets`: the 4-way Expand runs over the
    ~|groups|×|tasks| pre-agg instead of quadrupling the 60M-row
    lineitem stream."""
    li = load_table(spark, sf_dir, "lineitem")
    c_int = cents("l_quantity")
    pre = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.spark_partition_id().alias("_pid"),
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(c_int).alias("s_c"))
    sdec = F.col("s_c").cast("decimal(20,0)") * F.lit("0.01").cast(
        "decimal(2,2)"
    )
    return pre.cube("l_returnflag", "l_linestatus").agg(
        F.sum("n").alias("n_rows"),
        F.round(F.sum(sdec), 2).cast("double").alias("sum_qty"),
    )


@register(
    "agg_statistical",
    survey_row=27,
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6)              AS sd_qty,
           round(var_samp(l_quantity), 6)                 AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6)    AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_statistical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance/correlation/covariance per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        # corr() via try_divide: ANSI-mode F.corr raises DIVIDE_BY_ZERO on a
        # zero-variance group, where the oracle (and ISO SQL) yield NULL.
        F.round(
            F.try_divide(
                F.covar_samp("l_quantity", "l_extendedprice"),
                F.stddev_samp("l_quantity") * F.stddev_samp("l_extendedprice"),
            ),
            6,
        ).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "cov_qty_price"
        ),
    )


@register(
    "agg_collect_set_sorted",
    survey_row=28,
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
               AS segments,
           count(*) AS n_customers
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic set-valued aggregate: sort_array(collect_set()).

    The sorted set is joined to one string column: array-typed output
    is not hashable by pandas-based result canonicalizers (the driver
    errors on ``sort_values`` over lists), and the stringified form
    is engine-portable while still exercising collect_set + sort_array.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.count(F.lit(1)).alias("n_customers"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "agg_pivot",
    survey_row=24,
    oracle="SELECT o_orderstatus, "
    + ", ".join(
        f"""count(*) FILTER (o_orderpriority = '{p}') AS "{p}" """ for p in _PRIORITIES
    )
    + " FROM orders GROUP BY o_orderstatus",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: status rows × priority columns. Pivot
    values are passed explicitly — that skips the extra distinct-scan
    job AND fixes the output schema (mandatory at scale: never let a
    100 TB scan decide your column list). Empty cells coalesce to 0 to
    match SQL's count-FILTER semantics."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(p) for p in _PRIORITIES],
    )


@register(
    "agg_percentiles",
    survey_row=27,
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`). At 100 TB swap for `approx_percentile`
    with a stated error bound — exact percentile fully sorts each
    group's values; the approximate sketch is mergeable map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(F.col("l_quantity"), F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(F.col("l_quantity"), F.lit(0.9)), 4).alias("p90"),
    )


@register(
    "agg_decimal_money",
    survey_row=46,
    oracle="""
    SELECT l_returnflag,
           sum(l_extendedprice::DECIMAL(12,2))::DOUBLE AS sum_price,
           min(l_extendedprice::DECIMAL(12,2))::DOUBLE AS min_price,
           max(l_extendedprice::DECIMAL(12,2))::DOUBLE AS max_price,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-typed aggregation: prices as DECIMAL(12,2) so the sums are
    EXACT (no float accumulation error at any scale or partitioning —
    the reason money columns are decimal, not double, in the 100 TB
    layout). The FINAL values are presented as DOUBLE on both engines:
    the driver's pandas-path hash renders Spark DECIMAL as
    ``Decimal('104958.50')`` but DuckDB DECIMAL as float ``104958.5``
    (the tpch_q9 driver-hash miss), and a 2-dp value after an exact
    decimal aggregation converts to the same double on both sides —
    the cast is presentation-only, the accumulation stays exact."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    return (
        li.select("l_returnflag", price.alias("price"))
        .groupBy("l_returnflag")
        .agg(
            F.sum("price").cast("double").alias("sum_price"),
            F.min("price").cast("double").alias("min_price"),
            F.max("price").cast("double").alias("max_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_grouping_id",
    survey_row=26,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT)  AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT)  AS g_status,
           count(*)                             AS n,
           round(sum(l_quantity), 2)            AS sum_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() markers: the flags disambiguate a real
    NULL group key from a rollup-generated NULL — essential when the
    cube feeds a report sink."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_bool_count_if",
    survey_row=27,
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)      AS all_over_1k,
           bool_or(o_orderstatus = 'F')       AS any_final,
           count_if(o_totalprice > 100000)::BIGINT AS n_big,
           count(*)                           AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bool_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates: bool_and / bool_or / count_if.
    All map-side combinable — partial aggregation halves shuffle
    volume automatically."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_final"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_max_by",
    survey_row=27,
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice * 100000000 + o_orderkey)
               AS top_order,
           arg_min(o_orderkey, o_totalprice * 100000000 + o_orderkey)
               AS bottom_order,
           max(o_totalprice) AS top_price,
           min(o_totalprice) AS bottom_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax aggregates). The ordering key is made
    tie-proof by a composite that is integer-exact in a double:
    price*1e8 (2-decimal prices → min gap 1e6) + orderkey (≤ ~1e6),
    so equal prices break by key identically in both engines — plain
    max_by(x, price) is nondeterministic under ties and WILL diverge
    (sf0.1 has 61 tied (priority, price) pairs)."""
    o = load_table(spark, sf_dir, "orders")
    ordk = F.col("o_totalprice") * 100000000 + F.col("o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ordk).alias("top_order"),
        F.min_by("o_orderkey", ordk).alias("bottom_order"),
        F.max("o_totalprice").alias("top_price"),
        F.min("o_totalprice").alias("bottom_price"),
    )


@register(
    "agg_hll_union",
    survey_row=22,
    oracle="""
    SELECT l_returnflag AS key,
           count(DISTINCT l_partkey)::BIGINT AS exact_distinct,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT '__global__' AS key,
           count(DISTINCT l_partkey)::BIGINT AS exact_distinct,
           TRUE AS within_5pct
    FROM lineitem
    """,
)
def agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Datasketches, Spark 3.5+): per-flag
    sketches of l_partkey are built in one pass, then UNIONED into a
    global estimate without rescanning — the property that lets a 100 TB
    pipeline maintain distinct counts per partition and roll them up to
    any grain for free. Driver-hashable contract: each row carries the
    exact distinct count plus a boolean asserting the sketch estimate
    lands within ±5 % of it; the oracle recomputes exact counts with the
    bool as literal TRUE, so DuckDB verifies the BOUND while the sketch
    mechanics stay engine-side (the union-then-estimate is still what's
    exercised — a wrong merge would blow the bound). Global exact
    distinct is a second one-column pass (it is NOT the sum of per-flag
    exacts; flags share part keys)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sketch"),
        F.countDistinct("l_partkey").alias("exact_distinct"),
    )
    ok = lambda est, ex: (  # noqa: E731
        F.abs(est - F.col(ex)) / F.col(ex) <= 0.05
    )
    flag_counts = per_flag.select(
        F.col("l_returnflag").alias("key"),
        "exact_distinct",
        ok(F.hll_sketch_estimate("sketch"), "exact_distinct").alias(
            "within_5pct"
        ),
    )
    global_exact = li.agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    global_count = (
        per_flag.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
        )
        .crossJoin(F.broadcast(global_exact))
        .select(
            F.lit("__global__").alias("key"),
            "exact_distinct",
            ok(F.col("est"), "exact_distinct").alias("within_5pct"),
        )
    )
    return flag_counts.unionAll(global_count)


@register(
    "agg_string_concat",
    survey_row=28,
    oracle="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
               AS segments_csv,
           count(*) AS n_customers
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG semantics): distinct
    segments joined in sorted order — deterministic by construction
    (sort_array fixes what raw collect order would scramble)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments_csv"
        ),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "agg_approx_percentiles",
    survey_row=27,
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_exact,
           TRUE AS p50_within_1,
           TRUE AS p90_within_1
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch twin of agg_percentiles: per-group p50/p90
    via approx_percentile (KLL-style sketch, relative accuracy set by
    the third argument). Exact percentile fully sorts each group's
    values; the sketch is map-side combinable, so the shuffle carries
    one bounded sketch per group per task — the only formulation that
    holds at 100 TB group sizes. Driver-hashable bound contract (the
    agg_approx_distinct pattern): each group emits the exact
    interpolated percentiles plus a bool asserting the sketch landed
    within one quantity unit (l_quantity is integer-valued 1..50, so
    one unit ≈ one quantile step at accuracy 10000); the oracle
    recomputes the exact values with the bools as literal TRUE. The
    numeric band is additionally asserted engine-side in
    tests/test_edge_cases.py."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.groupBy("l_returnflag").agg(
        F.approx_percentile(F.col("l_quantity"), F.lit(0.5), F.lit(10000)).alias(
            "ap50"
        ),
        F.approx_percentile(F.col("l_quantity"), F.lit(0.9), F.lit(10000)).alias(
            "ap90"
        ),
        F.round(F.percentile(F.col("l_quantity"), F.lit(0.5)), 4).alias(
            "p50_exact"
        ),
        F.round(F.percentile(F.col("l_quantity"), F.lit(0.9)), 4).alias(
            "p90_exact"
        ),
    )
    within = lambda a, e: F.abs(F.col(a) - F.col(e)) <= 1.0  # noqa: E731
    return raw.select(
        "l_returnflag",
        "p50_exact",
        "p90_exact",
        within("ap50", "p50_exact").alias("p50_within_1"),
        within("ap90", "p90_exact").alias("p90_within_1"),
    )


@register(
    "agg_mode_deterministic",
    survey_row=27,
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_quantity, count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n
    FROM c
    QUALIFY row_number() OVER (
        PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity ASC) = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a DETERMINISTIC tie-break (highest count,
    then smallest value) — built-in `mode()` leaves ties
    engine-defined in both Spark and DuckDB, so neither side uses it.
    Two-level shape: count per (group, value) — map-side combinable —
    then one `max_by` over a (cnt, -value) ordering struct collapses
    each group to its winner without a window sort. Shuffle volume is
    the distinct (group, value) pairs, not the raw rows: the right
    mode plan at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    winner = F.struct(F.col("cnt"), (-F.col("l_quantity")).alias("neg_qty"))
    return counts.groupBy("l_returnflag").agg(
        F.max_by(F.col("l_quantity"), winner).alias("mode_qty"),
        F.max("cnt").alias("mode_n"),
    )


@register(
    "agg_entropy",
    survey_row=27,
    oracle="""
    SELECT l_returnflag,
           round(entropy(l_linestatus), 6) AS status_entropy,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (log2) of a categorical column per group — the
    column-profiling metric catalogs store to flag near-constant and
    high-cardinality columns. Spark has no entropy aggregate, so it
    is composed from two hash aggregations: count per (group, value)
    — map-side combinable — then H = log2(N) - Σ c·log2(c) / N per
    group, an algebraically equivalent single-pass form that never
    materializes probabilities. DuckDB's built-in entropy() is the
    oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy("l_returnflag").agg(
        F.round(
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
            6,
        ).alias("status_entropy"),
        F.sum("c").alias("n"),
    )


@register(
    "agg_bitmap_distinct",
    survey_row=21,
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey)::BIGINT AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmaps — the scale
    path for exact COUNT(DISTINCT) over dense integer keys: stage 1
    aggregates (group, bitmap_bucket) → 4 KB bitmap chunks
    (map-side combinable, shuffles fixed-size bitmaps instead of
    every distinct value); stage 2 ORs chunks per group and sums
    bitmap_count. Unlike approx_count_distinct this is bit-exact, and
    unlike Expand-based count(DISTINCT) it never widens rows — at
    100 TB the shuffle carries |groups| × |key-range|/32768 bitmaps,
    independent of row count. Oracle = plain COUNT(DISTINCT).

    Plan caveat: bitmap_construct_agg's BINARY buffer is not
    hash-aggregable, so Spark plans SortAggregate — a per-task sort
    of the scan. This op stays as the Spark-4 built-in's contract
    row; the codegen-friendly variant (bit_or over 64-bit words,
    plain LONG buffer, HashAggregate throughout — measured 2×
    faster at sf10) is what `agg_count_distinct` ships."""
    o = load_table(spark, sf_dir, "orders")
    chunks = o.groupBy(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(o_custkey))"
        ).alias("bm")
    )
    return chunks.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_customers")
    )


@register(
    "agg_approx_topk",
    survey_row=22,
    oracle="""
    SELECT (l_partkey % 97)::BIGINT AS item,
           count(*)::BIGINT AS est_count
    FROM lineitem
    GROUP BY 1
    ORDER BY est_count DESC, item
    LIMIT 10
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Spark 4 built-in):
    top-10 most frequent part keys tracked with a 100-item sketch —
    the frequent-items pattern whose state is O(items_tracked), not
    O(distinct), so it survives any cardinality at 100 TB. Sketches
    merge associatively across partitions (map-side combine).
    Driver-hashable contract: the key domain (l_partkey % 97, 97
    values) fits inside the 100-slot sketch, the regime where the
    frequent-items sketch provably degrades to EXACT counts — so the
    oracle is the exact top-10 with the same (count desc, item)
    total order, and a hash match certifies the sketch produced
    exact counts (asserted engine-side too,
    tests/test_edge_cases.py::test_approx_topk_recall_vs_exact,
    which also exercises the tie-tolerant recall check that would
    apply past the exact regime)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.explode(
                F.expr("approx_top_k(l_partkey % 97, 10, 100)")
            ).alias("e")
        )
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("long").alias("est_count"),
        )
        .orderBy(F.desc("est_count"), "item")
    )


@register(
    "agg_median_abs_deviation",
    survey_row=27,
    oracle="""
    WITH m AS (
        SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(m.med, 4) AS median_qty,
           round(quantile_cont(abs(l.l_quantity - m.med), 0.5), 4) AS mad_qty
    FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, m.med
    """,
)
def agg_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion: per-group MEDIAN ABSOLUTE DEVIATION —
    median(|x − median(x)|), the outlier-resistant stddev the
    statistical suite's moment aggregates can't provide (one wild
    value moves stddev arbitrarily, moves MAD not at all). Median of
    a transformed column needs the group median FIRST, so this is
    the canonical two-pass-with-broadcast-back shape: pass 1
    aggregates |groups| medians, the tiny result broadcasts back
    onto the fact (no fact re-shuffle — the join is broadcast), and
    pass 2 aggregates the absolute deviations. At 100 TB swap the
    exact percentiles for approx_percentile sketches
    (agg_approx_percentiles' contract) and the shape is unchanged."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    med = li.groupBy("l_returnflag").agg(
        F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("l_quantity") - F.col("med")), F.lit(0.5)),
                4,
            ).alias("mad_qty")
        )
        .select(
            "l_returnflag",
            F.round("med", 4).alias("median_qty"),
            "mad_qty",
        )
    )


@register(
    "agg_distinct_twolevel",
    survey_row=21,
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey)::BIGINT AS n_parts,
           count(*)::BIGINT AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW-PROOF EXACT DISTINCT — the two-level rewrite for a hot
    group key: level 1 counts distinct within (key, value-hash bucket)
    so a hot key's distinct work spreads over 16 reducers; level 2
    sums the per-bucket distinct counts, which is EXACT because the
    buckets partition the value space (hash(v) % 16 assigns each
    distinct value to exactly one bucket — no value is double-counted
    across buckets). The native countDistinct plans (key, value)
    shuffles that put every hot-key row on one reducer; at 100 TB
    with a 3-value group column that reducer IS the job's wall clock.
    The count(*) channel rides level 1 as a plain sum. Same result,
    same oracle, bounded per-reducer fan-in."""
    li = load_table(spark, sf_dir, "lineitem")
    level1 = li.groupBy(
        "l_returnflag",
        (F.xxhash64("l_partkey") % 16).alias("bucket"),
    ).agg(
        F.countDistinct("l_partkey").alias("nd"),
        F.count(F.lit(1)).alias("n"),
    )
    return level1.groupBy("l_returnflag").agg(
        F.sum("nd").alias("n_parts"),
        F.sum("n").alias("n_rows"),
    )


@register(
    "agg_audience_overlap",
    survey_row=21,
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        FROM events
        GROUP BY user_id
    )
    SELECT sum(a)::BIGINT AS n_click,
           sum(b)::BIGINT AS n_purchase,
           sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_overlap,
           sum(CASE WHEN a = 1 OR b = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_union,
           round(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) * 1.0
                 / nullif(sum(CASE WHEN a = 1 OR b = 1 THEN 1 ELSE 0 END), 0),
                 4) AS jaccard
    FROM per_user
    """,
)
def agg_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIENCE OVERLAP — the segment-intersection question every
    analytics org asks (clickers ∩ purchasers, plus Jaccard): ONE
    pass builds per-user membership flags (max-of-CASE — the
    boolean-rollup idiom), a second |users|-keyed reduce sums every
    set statistic at once. No multi-countDistinct (that plans an
    Expand, N× data through the shuffle) and no inclusion-exclusion
    estimate — the flags give intersection and union EXACTLY in the
    same aggregate (union 0 ⇒ NULL Jaccard via try_divide/nullif —
    the fuzzer's both-segments-empty edge). At 100 TB the per-user
    frame is the only big
    shuffle, shared by all five outputs; for hundreds of segments the
    same shape vectorizes as a bitmask column instead of N flag
    columns."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("a"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("b"),
    )
    both = F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)
    either = F.when((F.col("a") == 1) | (F.col("b") == 1), 1).otherwise(0)
    return per_user.agg(
        F.sum("a").alias("n_click"),
        F.sum("b").alias("n_purchase"),
        F.sum(both).alias("n_overlap"),
        F.sum(either).alias("n_union"),
        # 0/0 guard (both segments empty): NULL on both engines —
        # ANSI Spark raises on the bare division (fuzzer-caught)
        F.round(
            F.try_divide(F.sum(both) * 1.0, F.sum(either)), 4
        ).alias("jaccard"),
    )


@register(
    "agg_gini_concentration",
    survey_row=27,
    oracle="""
    WITH per_cust AS (
        SELECT c.c_mktsegment, o.o_custkey,
               sum(o.o_totalprice) AS spend
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT c_mktsegment, spend,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY spend, o_custkey) AS i,
               count(*) OVER (PARTITION BY c_mktsegment) AS n,
               sum(spend) OVER (PARTITION BY c_mktsegment) AS total
        FROM per_cust
    )
    SELECT c_mktsegment,
           max(n)::BIGINT AS n_customers,
           round(2.0 * sum(i * spend) / (max(n) * max(total))
                 - (max(n) + 1.0) / max(n), 4) AS gini
    FROM ranked
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE CONCENTRATION — the Gini coefficient per market
    segment ("do 20 % of customers drive 80 % of revenue, and is it
    worse in BUILDING?"): the rank-sum identity G = 2·Σ(i·xᵢ)/(n·Σx)
    − (n+1)/n over spend sorted ascending per segment, which needs
    ONE sort window instead of the naive all-pairs |xᵢ−xⱼ| double
    sum (quadratic — the definitional formula is the scale trap
    here). Rank ties broken by custkey for a total order; spends are
    positive so the denominator can't vanish. One custkey shuffle
    for the spend rollup, one segment sort for the rank — both
    |customers|-bounded."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    ws = Window.partitionBy("c_mktsegment").orderBy("spend", "o_custkey")
    wp = Window.partitionBy("c_mktsegment")
    ranked = per_cust.select(
        "c_mktsegment",
        "spend",
        F.row_number().over(ws).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("spend").over(wp).alias("total"),
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.max("n").alias("n_customers"),
            F.round(
                2.0 * F.sum(F.col("i") * F.col("spend"))
                / (F.max("n") * F.max("total"))
                - (F.max("n") + 1.0) / F.max("n"),
                4,
            ).alias("gini"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_bitwise",
    survey_row=27,
    oracle="""
    SELECT event_type,
           bit_and(event_id) AS id_and,
           bit_or(event_id)  AS id_or,
           bit_xor(event_id) AS id_xor
    FROM events GROUP BY event_type
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates per group — the flag-mask
    reductions audit pipelines use for permission masks and feature
    flags. All three are commutative/associative, so Spark runs them
    as partial (map-side) + final aggregation: one shuffle carrying
    one 3-long row per (partition, group)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_and("event_id").alias("id_and"),
        F.bit_or("event_id").alias("id_or"),
        F.bit_xor("event_id").alias("id_xor"),
    )


@register(
    "agg_higher_moments",
    survey_row=27,
    oracle="""
    WITH m AS (
        SELECT l_returnflag, avg(l_quantity) AS mu, count(*) AS n
        FROM lineitem GROUP BY l_returnflag
    ), c AS (
        SELECT l.l_returnflag,
               sum(pow(l.l_quantity - m.mu, 2)) / m.n AS m2,
               sum(pow(l.l_quantity - m.mu, 3)) / m.n AS m3,
               sum(pow(l.l_quantity - m.mu, 4)) / m.n AS m4
        FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        GROUP BY l.l_returnflag, m.n
    )
    SELECT l_returnflag,
           round(m3 / pow(m2, 1.5), 5) AS skew,
           round(m4 / pow(m2, 2) - 3, 5) AS kurt
    FROM c
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness (g1) and excess kurtosis (g2) per group —
    distribution-shape profiling for the column-stats collector.
    Spark's `skewness`/`kurtosis` are single-pass streaming moment
    aggregates (partial + final; one shuffle). DuckDB's built-ins
    apply sample bias correction, a DIFFERENT estimator, so the
    oracle recomputes the population moments explicitly (two-pass
    mean-centered) — the parity check is across two algorithms as
    well as two engines; rounding at 1e-5 absorbs the summation-order
    ULP."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.skewness("l_quantity"), 5).alias("skew"),
        F.round(F.kurtosis("l_quantity"), 5).alias("kurt"),
    )


@register(
    "agg_weighted_median",
    survey_row=27,
    oracle="""
    WITH g AS (
        SELECT l_returnflag, l_quantity,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS w
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ), r AS (
        SELECT l_returnflag, l_quantity, w,
               sum(w) OVER (PARTITION BY l_returnflag
                            ORDER BY l_quantity
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS running,
               sum(w) OVER (PARTITION BY l_returnflag) AS total
        FROM g
    )
    SELECT l_returnflag, min(l_quantity) AS weighted_median
    FROM r WHERE running * 2 >= total
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the quantity at which HALF THE REVENUE sits
    below — percentile_approx and median() both weight rows equally,
    so neither engine has this built in. Classic crossing-point
    formulation: collapse to per-(group, value) weight sums first
    (hash agg — the fact table never reaches a window), then one
    window pass over the |group × distinct value| aggregate finds
    the first value whose running weight crosses half the total.

    Weights are summed as DECIMAL in both engines: the crossing
    compare is `running*2 >= total`, and near-exact-half ties must
    not flip on float summation order. At 100 TB the windowed frame
    is |groups × distinct values| rows — for continuous measures,
    pre-bucket values (the same move the histogram op makes)."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("w")
    )
    wr = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    r = g.select(
        "l_returnflag",
        "l_quantity",
        F.sum("w").over(wr).alias("running"),
        F.sum("w").over(wt).alias("total"),
    )
    return (
        r.filter(F.col("running") * 2 >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("l_quantity").alias("weighted_median"))
    )


@register(
    "agg_kmv_sketch",
    survey_row=22,
    oracle="""
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM events
    ), r AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_exact
        FROM h
    )
    SELECT event_type,
           max(n_exact) AS n_exact,
           max(hv) AS kth_hash,
           CASE WHEN max(n_exact) < 32 THEN max(n_exact)
                ELSE CAST(floor(31.0 * 1152921504606846976.0
                                / max(hv) + 0.5) AS BIGINT)
           END AS kmv_estimate
    FROM r WHERE rn <= 32
    GROUP BY event_type
    """,
)
def agg_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch, k = 32, DERIVED not
    approximated: the k smallest 60-bit hashes of each group's
    distinct users, the estimator (k−1)·2⁶⁰ / h₍ₖ₎, and the exact
    count beside it so the error is visible. KMV is the sketch
    family behind theta sketches — unlike HLL registers, the k-hash
    state supports set INTERSECTION estimates, which is why audience
    systems carry it.

    The 60-bit hash is the md5 prefix, computable identically in
    both engines (conv/CAST-hex — xxhash64 exists only Spark-side),
    so every output column is deterministic and the gate is
    hash-exact, k-th-value ties and all. Groups smaller than k
    short-circuit to the exact count (the estimator is undefined
    below k). Scale shape: distinct-hash reduce, then a k-row-
    per-group rank — the production form replaces the rank with a
    mergeable k-smallest partial aggregate, same state KMV unions
    need; the |distinct|-row shuffle here is already the sketch
    input, never the event stream."""
    ev = load_table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = ev.select("event_type", hv.alias("hv")).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    wt = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n_exact"),
    ).filter(F.col("rn") <= 32)
    return r.groupBy("event_type").agg(
        F.max("n_exact").alias("n_exact"),
        F.max("hv").alias("kth_hash"),
        F.when(F.max("n_exact") < 32, F.max("n_exact"))
        .otherwise(
            F.floor(
                F.lit(31.0) * F.lit(1152921504606846976.0) / F.max("hv")
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("kmv_estimate"),
    )


@register(
    "agg_kmv_intersection",
    survey_row=22,
    oracle="""
    WITH h AS (
        SELECT DISTINCT
               CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS seg,
               user_id,
               CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM events WHERE event_type IN ('click', 'purchase')
    ), r AS (
        SELECT seg, hv,
               row_number() OVER (PARTITION BY seg ORDER BY hv) AS rn
        FROM (SELECT DISTINCT seg, hv FROM h) t
    ), sk AS (SELECT seg, hv FROM r WHERE rn <= 32),
    theta AS (
        SELECT least(max(hv) FILTER (seg = 'a'),
                     max(hv) FILTER (seg = 'b')) AS theta_hash
        FROM sk
    ), common AS (
        SELECT count(*) AS n_common
        FROM sk a JOIN sk b ON a.hv = b.hv
                  AND a.seg = 'a' AND b.seg = 'b',
             theta t
        WHERE a.hv < t.theta_hash
    ), exact AS (
        SELECT count(*) AS exact_intersection FROM (
            SELECT user_id FROM h GROUP BY user_id
            HAVING count(DISTINCT seg) = 2)
    )
    SELECT t.theta_hash, c.n_common,
           CAST(floor(c.n_common * 1152921504606846976.0
                      / t.theta_hash + 0.5) AS BIGINT) AS est_intersection,
           e.exact_intersection
    FROM theta t, common c, exact e
    """,
)
def agg_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-INTERSECTION estimation from KMV/theta sketches — the
    operation HLL registers cannot do and the reason audience-overlap
    systems carry theta sketches: clickers ∩ purchasers estimated
    from two 32-hash sketches alone, never the raw sets. θ = the
    smaller sketch threshold; hashes below θ present in BOTH sketches
    are a uniform sample of the intersection at rate θ/2⁶⁰, so
    |common| / θ estimates the true overlap. The exact intersection
    (the one-reduce boolean-rollup the exact twin uses) rides along
    so the error is visible in the gated output.

    Same engine-identical md5-prefix hash as agg_kmv_sketch, so
    sketch contents, θ, and the estimate are all deterministic —
    an approximation ALGORITHM under an exact parity gate. At scale
    the two sketches are 32-row frames (broadcast-joined); the only
    big-data pass is the distinct-(seg, user) reduce feeding them."""
    ev = load_table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.when(F.col("event_type") == "click", "a")
            .otherwise("b")
            .alias("seg"),
            "user_id",
        )
        .distinct()
        .select("seg", "user_id", hv.alias("hv"))
    )
    w = Window.partitionBy("seg").orderBy("hv")
    sk = (
        h.select("seg", "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 32)
        .drop("rn")
    )
    theta = sk.groupBy().agg(
        F.least(
            F.max(F.when(F.col("seg") == "a", F.col("hv"))),
            F.max(F.when(F.col("seg") == "b", F.col("hv"))),
        ).alias("theta_hash")
    )
    a = sk.filter(F.col("seg") == "a").select(F.col("hv").alias("hv"))
    b = sk.filter(F.col("seg") == "b").select(F.col("hv").alias("hv_b"))
    common = (
        a.join(F.broadcast(b), F.col("hv") == F.col("hv_b"))
        .crossJoin(F.broadcast(theta))
        .filter(F.col("hv") < F.col("theta_hash"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact = (
        h.groupBy("user_id")
        .agg(F.countDistinct("seg").alias("nseg"))
        .filter(F.col("nseg") == 2)
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        theta.crossJoin(common)
        .crossJoin(exact)
        .select(
            "theta_hash",
            "n_common",
            F.floor(
                F.col("n_common")
                * F.lit(1152921504606846976.0)
                / F.col("theta_hash")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("est_intersection"),
            "exact_intersection",
        )
    )


@register(
    "agg_countmin_heavy",
    survey_row=22,
    oracle="""
    WITH keyed AS (
        SELECT user_id,
               CAST('0x' || substring(
                   md5('cms0:' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 64 AS s0,
               CAST('0x' || substring(
                   md5('cms1:' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 64 AS s1,
               CAST('0x' || substring(
                   md5('cms2:' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 64 AS s2
        FROM events
    ),
    c0 AS (SELECT s0 AS slot, count(*) AS c FROM keyed GROUP BY s0),
    c1 AS (SELECT s1 AS slot, count(*) AS c FROM keyed GROUP BY s1),
    c2 AS (SELECT s2 AS slot, count(*) AS c FROM keyed GROUP BY s2),
    truth AS (
        SELECT user_id, min(s0) AS s0, min(s1) AS s1, min(s2) AS s2,
               count(*) AS true_count
        FROM keyed GROUP BY user_id
    )
    SELECT t.user_id,
           t.true_count,
           least(c0.c, c1.c, c2.c) AS cms_estimate,
           least(c0.c, c1.c, c2.c) - t.true_count AS overestimate
    FROM truth t
    JOIN c0 ON c0.slot = t.s0
    JOIN c1 ON c1.slot = t.s1
    JOIN c2 ON c2.slot = t.s2
    WHERE t.true_count >= 20
    """,
)
def agg_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH heavy-hitter estimation, built natively so
    the sketch itself is the oracle-gated artifact (the approx-topk /
    HLL / KMV / theta ops cover the other sketch families): depth-3 ×
    width-64 counter array with md5-derived row hashes (cross-engine
    identical, like every digest op here), point estimate = min over
    the three counters, reported beside the exact count so the
    one-sided CMS error (estimate ≥ truth, always) is visible per
    heavy key.

    Scale story: the sketch build is three width-64 partial-count
    aggregates — each a map-side combine into AT MOST 64 reduce rows
    regardless of corpus size, i.e. the mergeable-summary shape that
    lets 1000 executors sketch 100 TB and union counters on the
    driver. The truth side (exact per-key counts) exists only to
    gate the estimate and restricts to heavy keys (≥20) so the
    output stays small. The three counter joins broadcast (≤64 rows
    each)."""
    ev = load_table(spark, sf_dir, "events")

    def slot(i: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"cms{i}:"), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 64
        )

    keyed = ev.select(
        "user_id",
        slot(0).alias("s0"),
        slot(1).alias("s1"),
        slot(2).alias("s2"),
    )
    counters = [
        keyed.groupBy(F.col(f"s{i}").alias("slot")).agg(
            F.count(F.lit(1)).alias(f"c{i}")
        )
        for i in range(3)
    ]
    truth = keyed.groupBy("user_id").agg(
        F.min("s0").alias("s0"),
        F.min("s1").alias("s1"),
        F.min("s2").alias("s2"),
        F.count(F.lit(1)).alias("true_count"),
    )
    est = (
        truth.filter(F.col("true_count") >= 20)
        .join(F.broadcast(counters[0]), F.col("s0") == F.col("slot"))
        .drop("slot")
        .join(F.broadcast(counters[1]), F.col("s1") == F.col("slot"))
        .drop("slot")
        .join(F.broadcast(counters[2]), F.col("s2") == F.col("slot"))
        .drop("slot")
    )
    cms = F.least("c0", "c1", "c2")
    return est.select(
        "user_id",
        "true_count",
        cms.alias("cms_estimate"),
        (cms - F.col("true_count")).alias("overestimate"),
    )


@register(
    "agg_latency_histogram",
    survey_row=27,
    oracle="""
    WITH lat AS (
        SELECT event_type,
               (event_id * 7) % 1000 + 1 AS ms
        FROM events
    ),
    b AS (
        SELECT event_type,
               length(bin(ms)) - 1 AS bucket_p2,
               count(*) AS n
        FROM lat GROUP BY 1, 2
    )
    SELECT event_type,
           bucket_p2::BIGINT AS bucket_p2,
           (1::BIGINT << bucket_p2) AS bucket_lo_ms,
           n::BIGINT AS n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY event_type), 6)
               AS share,
           sum(n) OVER (
               PARTITION BY event_type ORDER BY bucket_p2)::BIGINT
               AS cum_n
    FROM b
    """,
)
def agg_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG₂-bucketed latency histogram — the monitoring shape for
    long-tailed latencies (HDR-histogram / Prometheus exponential
    buckets): power-of-two buckets give constant relative error,
    unlike equi-width (`cat_column_histogram`), and the bucket
    counts are exactly mergeable across shards — the property that
    lets 1000 executors histogram independently and the buckets
    just add. Emits, per event type: bucket floor, count, share,
    and cumulative count (the quantile-lookup side).

    floor(log2) is computed as length(bin(v)) − 1 — pure integer/
    string, identical in both engines; the float log2() at exact
    powers of two is a last-ULP coin-flip libm may call either way.
    One corpus-sized group-agg with map-side combine into
    |types|×~10 bucket rows; the windows run over that metadata-
    sized frame."""
    ev = load_table(spark, sf_dir, "events")
    lat = ev.select(
        "event_type",
        ((F.col("event_id") * 7) % 1000 + 1).alias("ms"),
    )
    b = lat.groupBy(
        "event_type",
        (F.length(F.bin("ms")) - 1).alias("bucket_p2"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_type = Window.partitionBy("event_type")
    w_cum = Window.partitionBy("event_type").orderBy("bucket_p2")
    return b.select(
        "event_type",
        F.col("bucket_p2").cast("long").alias("bucket_p2"),
        F.expr("shiftleft(1L, cast(bucket_p2 as int))").alias("bucket_lo_ms"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(w_type), 6).alias("share"),
        F.sum("n").over(w_cum).cast("long").alias("cum_n"),
    )


@register(
    "agg_regression_normal_eq",
    survey_row=27,
    oracle="""
    WITH d AS (
        SELECT (event_id * 3) % 100 AS y,
               user_id % 50 AS x1,
               event_id % 20 AS x2
        FROM events
    ),
    s AS (
        SELECT count(*)::BIGINT AS n,
               sum(x1)::BIGINT AS sx1, sum(x2)::BIGINT AS sx2,
               sum(y)::BIGINT AS sy,
               sum(x1 * x1)::BIGINT AS sx1x1,
               sum(x2 * x2)::BIGINT AS sx2x2,
               sum(x1 * x2)::BIGINT AS sx1x2,
               sum(x1 * y)::BIGINT AS sx1y,
               sum(x2 * y)::BIGINT AS sx2y
        FROM d
    ),
    c AS (
        SELECT n,
               (n * sx1x1 - sx1 * sx1)::DOUBLE AS a11,
               (n * sx1x2 - sx1 * sx2)::DOUBLE AS a12,
               (n * sx2x2 - sx2 * sx2)::DOUBLE AS a22,
               (n * sx1y - sx1 * sy)::DOUBLE AS b1,
               (n * sx2y - sx2 * sy)::DOUBLE AS b2,
               sx1, sx2, sy
        FROM s
    )
    SELECT n,
           round((b1 * a22 - b2 * a12)
                 / nullif(a11 * a22 - a12 * a12, 0), 6) AS beta1,
           round((b2 * a11 - b1 * a12)
                 / nullif(a11 * a22 - a12 * a12, 0), 6) AS beta2,
           round((sy - (b1 * a22 - b2 * a12)
                        / nullif(a11 * a22 - a12 * a12, 0) * sx1
                     - (b2 * a11 - b1 * a12)
                        / nullif(a11 * a22 - a12 * a12, 0) * sx2) / n, 6)
               AS intercept
    FROM c
    """,
)
def agg_regression_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-FEATURE linear regression by normal equations — the
    "distributed ML as aggregation" pattern (`agg_regr_linear` is the
    one-feature built-in; real feature sets need the Gram matrix):
    one pass accumulates the 9 sufficient statistics (n, Σx, Σxx,
    Σxy), the 2×2 centered system solves in closed form (Cramer),
    and only the solve touches floats. Because the features are
    integers here, every sufficient statistic is an EXACT int64 sum
    — accumulation order cannot move the result, and the solve is a
    fixed sequence of IEEE double ops on those exact integers —
    deterministic on both engines (a float-feature version would be
    ULP-flaky in the SUMS; here floats only enter after the reduce).

    This is precisely how MLlib's linear models train at 100 TB:
    map-side partial Gram matrices, one reduce, driver-side solve of
    a d×d system — the data never moves, the statistics do."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        ((F.col("event_id") * 3) % 100).alias("y"),
        (F.col("user_id") % 50).alias("x1"),
        (F.col("event_id") % 20).alias("x2"),
    )
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    )
    n, sx1, sx2, sy = F.col("n"), F.col("sx1"), F.col("sx2"), F.col("sy")
    # centered terms fit int64 at any fixture SF; the CRAMER products
    # of two ~1e15 terms do not — both engines solve in double (the
    # oracle casts ::DOUBLE at the same spot; DuckDB would otherwise
    # auto-promote to int128, which int64 Spark cannot mirror)
    a11 = (n * F.col("sx1x1") - sx1 * sx1).cast("double")
    a12 = (n * F.col("sx1x2") - sx1 * sx2).cast("double")
    a22 = (n * F.col("sx2x2") - sx2 * sx2).cast("double")
    b1 = (n * F.col("sx1y") - sx1 * sy).cast("double")
    b2 = (n * F.col("sx2y") - sx2 * sy).cast("double")
    # nullif guards the singular system (constant features, 1-row
    # inputs): betas are NULL on both engines, not a divide error
    det = F.nullif(a11 * a22 - a12 * a12, F.lit(0.0))
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (b2 * a11 - b1 * a12) / det
    return s.select(
        n.alias("n"),
        F.round(beta1, 6).alias("beta1"),
        F.round(beta2, 6).alias("beta2"),
        F.round((sy - beta1 * sx1 - beta2 * sx2) / n, 6).alias("intercept"),
    )


@register(
    "agg_bootstrap_ci",
    survey_row=27,
    oracle="""
    WITH reps AS (SELECT i AS rep FROM range(32) t(i)),
    w AS (
        SELECT r.rep,
               CAST(floor(round(e.value, 1) * 10 + 0.5) AS BIGINT) AS v10,
               CASE
                 WHEN CAST(('0x' || substr(md5('bs' || r.rep || ':'
                      || e.event_id), 1, 8)) AS BIGINT) % 1000 < 368 THEN 0
                 WHEN CAST(('0x' || substr(md5('bs' || r.rep || ':'
                      || e.event_id), 1, 8)) AS BIGINT) % 1000 < 736 THEN 1
                 ELSE 2
               END AS wt
        FROM events e CROSS JOIN reps r
    ),
    means AS (
        SELECT rep,
               sum(wt * v10) * 1.0 / (10.0 * nullif(sum(wt), 0)) AS m
        FROM w GROUP BY rep
    ),
    ranked AS (
        SELECT m, row_number() OVER (ORDER BY m NULLS LAST, rep) AS rn
        FROM means
    )
    SELECT count(*)::BIGINT AS n_replicas,
           round(min(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
           round(min(CASE WHEN rn = 31 THEN m END), 6) AS ci_hi
    FROM ranked
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOTSTRAP confidence interval, fully deterministic — the
    resampling-based uncertainty estimate ("how sure is this mean?")
    that normally needs a random number generator, made
    reproducible and cross-engine exact the way every sampling op
    here is: replica b reweights each row by a pseudo-Poisson(1)
    count derived from md5(b, row) (P(0)=.368, P(1)=.368, P(2)=.264
    — the Poisson pmf truncated at 2), replica means use EXACT
    integer numerators (value in tenths × integer weight), and the
    93.75 % CI is the 2nd/31st of the 32 sorted replica means.
    This is the m-out-of-n multiplier bootstrap in its distributed
    form: ONE pass over the data computes all 32 weighted sums
    (map-side, the cross join is against a broadcast 32-row frame),
    so the cost is one scan regardless of replica count — the only
    way bootstrap works at 100 TB.

    The replica-rank tie-break (m, rep) is pinned; each mean is a
    single IEEE division of exact integers."""
    ev = load_table(spark, sf_dir, "events")
    reps = spark.range(32).select(F.col("id").cast("int").alias("rep"))
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("bs"),
                        F.col("rep").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    wt = F.when(h < 368, 0).when(h < 736, 1).otherwise(2)
    w = ev.crossJoin(F.broadcast(reps)).select(
        "rep",
        F.floor(F.round("value", 1) * 10 + 0.5).cast("long").alias("v10"),
        wt.alias("wt"),
    )
    means = w.groupBy("rep").agg(
        (
            F.sum(F.col("wt") * F.col("v10"))
            / (10.0 * F.nullif(F.sum("wt"), F.lit(0)))
        ).alias("m")
    )
    ranked = means.select(
        "m",
        # NULLS LAST pinned: an all-zero-weight replica (possible on
        # tiny inputs) sorts NULLS FIRST in Spark but LAST in DuckDB
        F.row_number()
        .over(Window.orderBy(F.col("m").asc_nulls_last(), F.col("rep")))
        .alias("rn"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.round(F.min(F.when(F.col("rn") == 2, F.col("m"))), 6).alias("ci_lo"),
        F.round(F.min(F.when(F.col("rn") == 31, F.col("m"))), 6).alias("ci_hi"),
    )


@register(
    "agg_exact_median_twopass",
    survey_row=27,
    oracle="""
    WITH v AS (
        SELECT CAST(floor(round(o_totalprice, 2) * 100 + 0.5) AS BIGINT)
                   AS cents
        FROM orders
    ),
    k AS (SELECT (count(*) - 1) // 2 AS kth, count(*) AS n FROM v),
    b AS (
        SELECT cents // 1000000 AS bucket, count(*) AS bn
        FROM v GROUP BY 1
    ),
    loc AS (
        SELECT bucket, bn,
               coalesce(sum(bn) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
        FROM b
    ),
    target AS (
        SELECT l.bucket, l.below
        FROM loc l, k
        WHERE l.below <= k.kth AND k.kth < l.below + l.bn
    )
    SELECT (SELECT n FROM k)::BIGINT AS n,
           (SELECT kth FROM k)::BIGINT AS kth,
           min(x.cents)::BIGINT AS median_cents
    FROM (
        SELECT v.cents,
               row_number() OVER (ORDER BY v.cents) AS rn
        FROM v, target t
        WHERE v.cents // 1000000 = t.bucket
    ) x, k, target t2
    WHERE x.rn = k.kth - t2.below + 1
    """,
)
def agg_exact_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median by the two-pass histogram algorithm —
    the at-scale answer to "percentile_cont sorts my 100 TB column
    on one node": pass 1 histograms the column into coarse buckets
    (map-side combine, |buckets| rows); the running bucket counts
    LOCATE the bucket holding the k-th value; pass 2 ranks only
    WITHIN that one bucket (≈ n/|buckets| rows through a sort) and
    picks the (k − below)-th element. Two scans, no global sort —
    the classic distributed selection algorithm (lower-median
    convention, integer cents so selection is well-defined).

    Spark implements the same two passes the oracle spells out in
    SQL; the within-bucket sort touches ~1/1000 of the data, and
    every cross-pass handoff (kth, bucket, below) is a broadcast
    scalar. Generalizes to any quantile and to the iterative
    refine-until-one-bucket form for pathological skew."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.floor(F.round("o_totalprice", 2) * 100 + 0.5)
        .cast("long")
        .alias("cents")
    )
    n = v.count()
    kth = (n - 1) // 2
    b = v.groupBy(F.floor(F.col("cents") / 1000000).alias("bucket")).agg(
        F.count(F.lit(1)).alias("bn")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    loc = b.withColumn("below", F.coalesce(F.sum("bn").over(w), F.lit(0)))
    t = (
        loc.filter(
            (F.col("below") <= kth) & (F.lit(kth) < F.col("below") + F.col("bn"))
        )
        .select("bucket", "below")
        .head()
    )
    within = (
        v.filter(F.floor(F.col("cents") / 1000000) == t["bucket"])
        .select(
            "cents",
            F.row_number().over(Window.orderBy("cents")).alias("rn"),
        )
        .filter(F.col("rn") == kth - t["below"] + 1)
    )
    return within.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(kth).cast("long").alias("kth"),
        F.col("cents").alias("median_cents"),
    )


@register(
    "agg_ratio_trap",
    survey_row=27,
    oracle="""
    WITH line AS (
        SELECT l_returnflag,
               CAST(floor(round(l_extendedprice, 2) * 100 + 0.5) AS BIGINT)
                   AS price_c,
               CAST(floor(round(l_discount, 2) * 100 + 0.5) AS BIGINT)
                   AS disc_c
        FROM lineitem
    )
    SELECT l_returnflag,
           round(sum(price_c * disc_c) * 1.0
                 / (100.0 * sum(price_c)), 6) AS discount_rate_correct,
           round(avg(disc_c) / 100.0, 6) AS discount_rate_naive,
           abs(round(sum(price_c * disc_c) * 1.0
                     / (100.0 * sum(price_c)), 6)
               - round(avg(disc_c) / 100.0, 6)) > 0.001 AS materially_wrong
    FROM line GROUP BY l_returnflag
    """,
)
def agg_ratio_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RATIO-aggregation trap stated as an operator (the metric
    bug behind most wrong dashboards, same family as
    `sub_not_in_null_trap` / `sub_count_bug`): "average discount
    rate" computed correctly as ratio-of-sums (price-weighted — what
    fraction of revenue was given away) versus naively as
    avg-of-ratios (every line votes equally, so a $1 clearance line
    swings the metric like a $100k order). Both columns are emitted
    plus a materiality flag, so the divergence itself is
    hash-gated — the operator DOCUMENTS the trap with live numbers
    rather than silently picking a side.

    Integer cents for both factors (the CUSUM cast rule) make
    sum(price·disc) an exact int64 sum; each rate is one IEEE
    division. One group-agg, map-side combine."""
    li = load_table(spark, sf_dir, "lineitem")
    line = li.select(
        "l_returnflag",
        F.floor(F.round("l_extendedprice", 2) * 100 + 0.5)
        .cast("long")
        .alias("price_c"),
        F.floor(F.round("l_discount", 2) * 100 + 0.5)
        .cast("long")
        .alias("disc_c"),
    )
    correct = F.round(
        F.sum(F.col("price_c") * F.col("disc_c"))
        / (100.0 * F.sum("price_c")),
        6,
    )
    naive = F.round(F.avg("disc_c") / 100.0, 6)
    return line.groupBy("l_returnflag").agg(
        correct.alias("discount_rate_correct"),
        naive.alias("discount_rate_naive"),
        (F.abs(correct - naive) > 0.001).alias("materially_wrong"),
    )


@register(
    "agg_smoothed_rate_ranking",
    survey_row=27,
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               count(*) AS n,
               count(*) FILTER (WHERE event_type = 'purchase') AS k
        FROM events GROUP BY user_id
    ),
    prior AS (
        SELECT sum(k) AS gk, sum(n) AS gn FROM per_user
    )
    SELECT u.user_id, u.n::BIGINT AS n, u.k::BIGINT AS k,
           round(u.k * 1.0 / u.n, 6) AS raw_rate,
           round((u.k + 20.0 * p.gk / p.gn) / (u.n + 20.0), 6)
               AS smoothed_rate,
           rank() OVER (ORDER BY (u.k + 20.0 * p.gk / p.gn)
                                 / (u.n + 20.0) DESC,
                        u.user_id)::BIGINT AS rate_rank
    FROM per_user u, prior p
    """,
)
def agg_smoothed_rate_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes SMOOTHED rate ranking — the fix for the
    oldest ranking bug there is (an entity that is 1-for-1 ranks
    above one that is 900-for-1000 on raw rate): shrink every
    per-entity rate toward the global prior with pseudo-count
    weight m=20, so small samples defer to the fleet and large
    samples speak for themselves — Beta-Binomial posterior means
    with α+β=m, the same estimator behind "smoothed CTR" and
    Laplace-smoothed quality scores. Raw and smoothed rates emitted
    side by side, plus the rank the smoothed column induces
    (deterministic (rate desc, user_id) tie-break).

    One per-entity aggregate, one broadcast global prior, one
    window over the |entities| frame; every rate is a fixed
    sequence of IEEE ops on exact int64 counts."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("k"),
    )
    prior = per_user.agg(
        F.sum("k").alias("gk"), F.sum("n").alias("gn")
    )
    j = per_user.crossJoin(F.broadcast(prior))
    smoothed = (F.col("k") + 20.0 * F.col("gk") / F.col("gn")) / (
        F.col("n") + 20.0
    )
    return j.select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(F.col("k") / F.col("n"), 6).alias("raw_rate"),
        F.round(smoothed, 6).alias("smoothed_rate"),
        F.rank()
        .over(Window.orderBy(smoothed.desc(), F.col("user_id")))
        .cast("long")
        .alias("rate_rank"),
    )


@register(
    "agg_welch_ttest",
    survey_row=27,
    oracle="""
    WITH g AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS grp,
               CAST(floor(round(value, 1) * 10 + 0.5) AS BIGINT) AS v10
        FROM events
    ),
    s AS (
        SELECT grp, count(*) AS n, sum(v10) AS sv,
               sum(v10 * v10) AS svv
        FROM g GROUP BY grp
    ),
    wide AS (
        SELECT max(CASE WHEN grp = 'control' THEN n END) AS n1,
               max(CASE WHEN grp = 'control' THEN sv END) AS s1,
               max(CASE WHEN grp = 'control' THEN svv END) AS q1,
               max(CASE WHEN grp = 'treatment' THEN n END) AS n2,
               max(CASE WHEN grp = 'treatment' THEN sv END) AS s2,
               max(CASE WHEN grp = 'treatment' THEN svv END) AS q2
        FROM s
    )
    SELECT n1::BIGINT AS n_control, n2::BIGINT AS n_treatment,
           round((s1 * 1.0 / n1 - s2 * 1.0 / n2) / 10.0, 6)
               AS mean_diff,
           round((s1 * 1.0 / n1 - s2 * 1.0 / n2)
                 / sqrt(((q1 - s1 * 1.0 * s1 / n1)
                         / nullif(n1 - 1, 0)) / n1
                        + ((q2 - s2 * 1.0 * s2 / n2)
                           / nullif(n2 - 1, 0)) / n2),
                 6) AS welch_t
    FROM wide
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S t-test from sufficient statistics — the experiment
    readout (unequal variances, unequal group sizes — the realistic
    A/B case Student's t mishandles) computed the only way it scales:
    each arm reduces to (n, Σv, Σv²) in ONE pass — exact int64 sums
    over integer-tenths values — and the t statistic follows in
    closed form from six numbers. No per-row float ever
    accumulates; the solve is a fixed IEEE sequence (the
    normal-equation discipline applied to inference).

    One two-group aggregate with map-side combine, one 2-row
    pivot, one expression. Group assignment is the deterministic
    parity split; at real scale the same sufficient statistics are
    the per-segment cube any experimentation platform maintains
    incrementally."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("grp"),
        F.floor(F.round("value", 1) * 10 + 0.5).cast("long").alias("v10"),
    )
    s = g.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v10").alias("sv"),
        F.sum(F.col("v10") * F.col("v10")).alias("svv"),
    )
    wide = s.agg(
        F.max(F.when(F.col("grp") == "control", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "control", F.col("sv"))).alias("s1"),
        F.max(F.when(F.col("grp") == "control", F.col("svv"))).alias("q1"),
        F.max(F.when(F.col("grp") == "treatment", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "treatment", F.col("sv"))).alias("s2"),
        F.max(F.when(F.col("grp") == "treatment", F.col("svv"))).alias("q2"),
    )
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    # operand order mirrors the oracle exactly (s·s/n, not s·(s/n)):
    # double multiplication is not associative at the last ULP
    var1 = (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / F.nullif(
        F.col("n1") - 1, F.lit(0)
    )
    var2 = (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / F.nullif(
        F.col("n2") - 1, F.lit(0)
    )
    return wide.select(
        F.col("n1").cast("long").alias("n_control"),
        F.col("n2").cast("long").alias("n_treatment"),
        F.round((m1 - m2) / 10.0, 6).alias("mean_diff"),
        F.round(
            (m1 - m2) / F.sqrt(var1 / F.col("n1") + var2 / F.col("n2")), 6
        ).alias("welch_t"),
    )


@register(
    "agg_cube_topk",
    survey_row=26,
    oracle="""
    WITH cells AS (
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               o_custkey,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority), o_custkey
    ),
    ranked AS (
        SELECT status, priority, o_custkey, revenue,
               row_number() OVER (
                   PARTITION BY status, priority
                   ORDER BY revenue DESC, o_custkey) AS rk
        FROM cells
    )
    SELECT status, priority, o_custkey, revenue, rk::BIGINT AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def agg_cube_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K WITHIN EVERY GROUPING SET — the leaderboard cube (top
    3 customers overall, per status, per priority, and per
    status×priority, all in one result) that powers drill-down
    dashboards without one query per level: CUBE produces every
    aggregation level with NULL markers (coalesced to 'ALL' so the
    level is a visible dimension value), then one window ranks
    within each (level, cell) and keeps k.

    The composition order is the point: rank AFTER the cube, so
    each level's leaderboard is computed over that level's own
    aggregates — ranking before cubing double-counts through the
    rollup. One Expand-based cube shuffle + one window over the
    |cells|×|custkeys| frame; ties pinned by custkey."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.cube("o_orderstatus", "o_orderpriority", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        # cube() cubes ALL listed columns; keep only the cells where
        # custkey itself is concrete (the per-entity leaderboard rows)
        .filter(F.col("o_custkey").isNotNull())
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "o_custkey",
            "revenue",
        )
    )
    ranked = cells.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("status", "priority").orderBy(
                F.col("revenue").desc(), F.col("o_custkey")
            )
        ),
    )
    return ranked.filter(F.col("rk") <= 3).select(
        "status", "priority", "o_custkey", "revenue",
        F.col("rk").cast("long").alias("rk"),
    )


@register(
    "agg_winsorized_mean",
    survey_row=27,
    oracle="""
    WITH v AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(round(o_totalprice, 2) * 100 + 0.5) AS BIGINT)
                   AS cents
        FROM orders
    ),
    bounds AS (
        SELECT grp,
               quantile_cont(cents, 0.05) AS lo,
               quantile_cont(cents, 0.95) AS hi
        FROM v GROUP BY grp
    )
    SELECT v.grp,
           count(*)::BIGINT AS n,
           round(avg(cents) / 100.0, 4) AS raw_mean,
           round(avg(least(greatest(cents * 1.0, b.lo), b.hi)) / 100.0,
                 4) AS winsorized_mean,
           count(*) FILTER (WHERE cents < b.lo OR cents > b.hi)::BIGINT
               AS n_clamped
    FROM v JOIN bounds b ON b.grp = v.grp
    GROUP BY v.grp
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED mean — the robust average for fat-tailed metrics
    (one whale order shifts a raw mean for a month; trimming
    DELETES information, winsorizing CLAMPS the tails to the
    p5/p95 bounds and keeps every row's vote): per group, the
    two-pass form — exact quantile bounds, then a clamped mean —
    with the raw mean and clamp count beside it so the outlier
    influence is itself visible. Completes the robust-statistics
    family (`agg_median_abs_deviation` for spread, this for
    location).

    Values are integer cents; the interpolated bounds are at worst
    exact halves (dyadic — sums of them stay exact in double), the
    clamped average is sum/n once per group. Two passes over one
    corpus-sized shuffle lineage (bounds agg + broadcast-back),
    the documented exact-quantile trade; approx_percentile swaps
    in at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.round("o_totalprice", 2) * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    bounds = v.groupBy("grp").agg(
        F.expr("percentile(cents, 0.05)").alias("lo"),
        F.expr("percentile(cents, 0.95)").alias("hi"),
    )
    j = v.join(F.broadcast(bounds), "grp")
    clamped = F.least(
        F.greatest(F.col("cents") * 1.0, F.col("lo")), F.col("hi")
    )
    return j.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("cents") / 100.0, 4).alias("raw_mean"),
        F.round(F.avg(clamped) / 100.0, 4).alias("winsorized_mean"),
        F.count(
            F.when(
                (F.col("cents") < F.col("lo"))
                | (F.col("cents") > F.col("hi")),
                1,
            )
        ).alias("n_clamped"),
    )


@register(
    "agg_reservoir_sample",
    survey_row=20,
    oracle="""
    SELECT o_orderpriority, sample_rank, o_orderkey, o_totalprice
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR))
               ) AS sample_rank
        FROM orders
    )
    WHERE sample_rank <= 5
    ORDER BY o_orderpriority, sample_rank
    """,
)
def agg_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group uniform sample — the DISTRIBUTED form
    of reservoir sampling: rank rows inside each group by a uniform
    hash of a unique key (md5 — identical on both engines; Spark's
    own hash() is engine-specific) and keep the bottom k. Bottom-k by
    uniform hash is distributionally a uniform sample WITHOUT
    replacement, but unlike rand()-based sampling it is reproducible,
    merge-safe (the bottom-k of a union is the bottom-k of the
    parts' bottom-k's — each executor can pre-trim to k before the
    exchange), and re-runnable on changed data with minimal sample
    churn — the properties that matter when sampling 100 TB for eval
    sets. The plan is one shuffle on the group key; row_number is a
    running operator, no full materialization per group."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string"))
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 5)
        .select(
            "o_orderpriority", "sample_rank", "o_orderkey", "o_totalprice"
        )
        .orderBy("o_orderpriority", "sample_rank")
    )


@register(
    "agg_ks_test",
    survey_row=27,
    oracle="""
    WITH g AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_ctl,
               CAST(floor(round(value, 1) * 10 + 0.5) AS BIGINT) AS v10
        FROM events
    ),
    per_v AS (
        SELECT v10, sum(is_ctl) AS k1,
               sum(1 - is_ctl) AS k2
        FROM g GROUP BY v10
    ),
    ecdf AS (
        SELECT sum(k1) OVER (ORDER BY v10
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
               sum(k2) OVER (ORDER BY v10
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
               sum(k1) OVER () AS n1,
               sum(k2) OVER () AS n2
        FROM per_v
    )
    SELECT max(n1)::BIGINT AS n_control,
           max(n2)::BIGINT AS n_treatment,
           max(abs(c1 * n2 - c2 * n1))::BIGINT AS d_numer,
           round(max(abs(c1 * n2 - c2 * n1))
                 * 1.0 / nullif(max(n1) * max(n2), 0), 6) AS ks_d,
           max(abs(c1 * n2 - c2 * n1))
               * 1.0 / nullif(max(n1) * max(n2), 0)
               > 1.358 * sqrt((max(n1) + max(n2)) * 1.0
                              / nullif(max(n1) * max(n2), 0))
               AS reject_95
    FROM ecdf
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV test — the distribution-drift
    gate (did the treatment arm / the new crawl / yesterday's shard
    change the SHAPE of the metric, not just its mean — the question
    Welch's t cannot answer). D = sup |F1 - F2| computed EXACTLY in
    integers: per distinct integer-tenths value, the two running
    counts c1,c2 give |c1·n2 - c2·n1| whose max over the domain is
    D·n1·n2 — no per-row float ever exists; the single division and
    the 95% critical-value compare (c(α)=1.358, Smirnov asymptote)
    happen once on the final five integers.

    Scale shape: rows collapse to the VALUE DOMAIN first (one
    map-side-combined aggregate; |domain| = 4,901 integer tenths
    here and bounded at any corpus size), so the ECDF window sorts
    the domain, never the data — the same
    aggregate-before-window discipline as win_ohlc_resample."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("is_ctl"),
        F.floor(F.round("value", 1) * 10 + 0.5).cast("long").alias("v10"),
    )
    per_v = g.groupBy("v10").agg(
        F.sum("is_ctl").alias("k1"),
        F.sum(1 - F.col("is_ctl")).alias("k2"),
    )
    run = (
        Window.orderBy("v10")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    everything = Window.orderBy("v10").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ecdf = per_v.select(
        F.sum("k1").over(run).alias("c1"),
        F.sum("k2").over(run).alias("c2"),
        F.sum("k1").over(everything).alias("n1"),
        F.sum("k2").over(everything).alias("n2"),
    )
    d = F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
    n1, n2 = F.max("n1"), F.max("n2")
    # nullif guards: a degenerate population with an EMPTY arm
    # (n1*n2 = 0) yields NULL statistics on both engines instead of
    # an ANSI divide-by-zero here and an Infinity in DuckDB
    nn = F.nullif((n1 * n2).cast("long"), F.lit(0))
    return ecdf.agg(
        n1.cast("long").alias("n_control"),
        n2.cast("long").alias("n_treatment"),
        d.cast("long").alias("d_numer"),
        F.round(d * 1.0 / nn, 6).alias("ks_d"),
        (
            d * 1.0 / nn
            > 1.358 * F.sqrt((n1 + n2) * 1.0 / nn)
        ).alias("reject_95"),
    )


@register(
    "agg_mann_whitney_u",
    survey_row=27,
    oracle="""
    WITH g AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_ctl,
               CAST(floor(round(value, 1) * 10 + 0.5) AS BIGINT) AS v10
        FROM events
    ),
    per_v AS (
        SELECT v10, sum(is_ctl) AS k1, sum(1 - is_ctl) AS k2,
               count(*) AS k
        FROM g GROUP BY v10
    ),
    ranked AS (
        SELECT k1, k2, k,
               sum(k) OVER (ORDER BY v10
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - k AS c
        FROM per_v
    ),
    s AS (
        SELECT sum(k1) AS n1, sum(k2) AS n2, sum(k1 + k2) AS n,
               sum(k1 * (2 * c + k + 1)) AS r1x2,
               sum(k * k * k - k) AS ties
        FROM ranked
    )
    SELECT n1::BIGINT AS n_control, n2::BIGINT AS n_treatment,
           (r1x2 - n1 * (n1 + 1))::BIGINT AS u1_x2,
           (2 * n1 * n2 - (r1x2 - n1 * (n1 + 1)))::BIGINT AS u2_x2,
           round(((r1x2 - n1 * (n1 + 1)) - n1 * n2)
                 / nullif(2.0 * sqrt(n1 * 1.0 * n2 / 12.0
                    * ((n + 1) - ties * 1.0
                       / nullif(n * (n - 1), 0))), 0.0), 6)
               AS z_score
    FROM s
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U (Wilcoxon rank-sum) — the nonparametric
    two-sample test for ordinal/heavy-tailed metrics where means lie
    (latency, revenue-per-user). The whole computation is INTEGER
    until the final z: with ties handled by midranks, doubling the
    rank scale makes every midrank integral — a tie group of size k
    after c earlier observations contributes k1·(2c+k+1) to 2·R1 —
    so 2·U1 = 2·R1 - n1(n1+1) is an exact int64, as is the tie
    correction Σ(k³-k). The normal-approximation z (with tie-adjusted
    variance) is one fixed IEEE sequence over six exact integers.

    Same aggregate-before-window shape as agg_ks_test: rows collapse
    to the bounded value domain first, the rank window sorts only
    the domain, and every executor's partial tie counts merge
    map-side."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("is_ctl"),
        F.floor(F.round("value", 1) * 10 + 0.5).cast("long").alias("v10"),
    )
    per_v = g.groupBy("v10").agg(
        F.sum("is_ctl").alias("k1"),
        F.sum(1 - F.col("is_ctl")).alias("k2"),
        F.count(F.lit(1)).alias("k"),
    )
    run = Window.orderBy("v10").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_v.select(
        "k1",
        "k2",
        "k",
        (F.sum("k").over(run) - F.col("k")).alias("c"),
    )
    s = ranked.agg(
        F.sum("k1").alias("n1"),
        F.sum("k2").alias("n2"),
        F.sum(F.col("k1") + F.col("k2")).alias("n"),
        F.sum(
            F.col("k1") * (2 * F.col("c") + F.col("k") + 1)
        ).alias("r1x2"),
        F.sum(
            F.col("k") * F.col("k") * F.col("k") - F.col("k")
        ).alias("ties"),
    )
    n1, n2, n = F.col("n1"), F.col("n2"), F.col("n")
    u1x2 = F.col("r1x2") - n1 * (n1 + 1)
    return s.select(
        n1.cast("long").alias("n_control"),
        n2.cast("long").alias("n_treatment"),
        u1x2.cast("long").alias("u1_x2"),
        (2 * n1 * n2 - u1x2).cast("long").alias("u2_x2"),
        F.round(
            (u1x2 - n1 * n2)
            / F.nullif(
                2.0
                * F.sqrt(
                    n1 * 1.0 * n2 / 12.0
                    * (
                        (n + 1)
                        - F.col("ties")
                        * 1.0
                        / F.nullif((n * (n - 1)).cast("long"), F.lit(0))
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z_score"),
    )


@register(
    "agg_percentile_disc_cont",
    survey_row=21,
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS q,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           max(n)::BIGINT AS n,
           max(CASE WHEN rn = (n + 1) // 2 THEN q END)::BIGINT
               AS median_disc,
           round((max(CASE WHEN rn = (n + 1) // 2 THEN q END)
                  + max(CASE WHEN rn = (n + 2) // 2 THEN q END))
                 / 2.0, 6) AS median_cont,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN q END)::BIGINT
               AS p90_disc
    FROM ranked
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_percentile_disc_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC vs PERCENTILE_CONT semantics, both computed
    from ONE rank pass — the quantile-definition trap spelled out
    as an operator (engines disagree on builtin quantile edge
    conventions: DuckDB's quantile_disc picks floor(q·(n-1)),
    Spark's percentile interpolates at q·(n-1), SQL-standard
    PERCENTILE_DISC takes the first row with cume_dist ≥ q — three
    different answers on the same data). Neither engine's builtin
    is used: both sides rank explicitly and pick by INTEGER
    position ((n+1)//2 lower-median, (n+2)//2 upper, (9n+9)//10
    p90 — ceil form), so disc picks are exact row values and cont
    is one half-sum — engine-identical by construction.

    The rank window is one shuffle on the group key; position picks
    ride the same pass as conditional aggregates (no second scan,
    no join-back). At 100 TB swap the exact rank for
    approx_percentile and keep the same output contract."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wcnt = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("q"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("n"),
    )
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("(n + 2) div 2")
    p90 = F.expr("(9 * n + 9) div 10")
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max(F.when(F.col("rn") == lo, F.col("q")))
            .cast("long")
            .alias("median_disc"),
            F.round(
                (
                    F.max(F.when(F.col("rn") == lo, F.col("q")))
                    + F.max(F.when(F.col("rn") == hi, F.col("q")))
                )
                / 2.0,
                6,
            ).alias("median_cont"),
            F.max(F.when(F.col("rn") == p90, F.col("q")))
            .cast("long")
            .alias("p90_disc"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_cramers_v",
    survey_row=27,
    oracle="""
    WITH obs AS (
        SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS o
        FROM lineitem GROUP BY a, b
    ),
    margins AS (
        SELECT a, b, o,
               sum(o) OVER (PARTITION BY a) AS ra,
               sum(o) OVER (PARTITION BY b) AS cb,
               sum(o) OVER () AS n
        FROM obs
    ),
    chi AS (
        SELECT max(n) AS n,
               count(DISTINCT a) AS r, count(DISTINCT b) AS c,
               sum(CAST(floor((o * 1.0 - ra * 1.0 * cb / n)
                   * (o * 1.0 - ra * 1.0 * cb / n)
                   / (ra * 1.0 * cb / n) * 1000000) AS BIGINT)) AS chi2u,
               min(ra * 1.0 * cb / n) AS min_expected
        FROM margins
    )
    SELECT n::BIGINT AS n, round(chi2u / 1000000.0, 6) AS chi2,
           round(sqrt(chi2u / 1000000.0 / (n * least(r - 1, c - 1))), 6)
               AS cramers_v,
           min_expected >= 5.0 AS expected_valid
    FROM chi
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMER'S V — the EFFECT SIZE the chi-square test
    (cat_chi_square_assoc) is missing: at 100 TB every association
    is "significant" because n is astronomical; V = sqrt(chi2 /
    (n·min(r-1,c-1))) is the sample-size-free strength that decides
    whether the association MATTERS. Ships with the
    min-expected-count ≥ 5 validity flag (the textbook
    applicability condition, checked not assumed).

    Contingency cells are one map-side-combined aggregate (r·c
    rows); margins are windows over the CELL frame, never the data;
    each cell's chi2 term quantizes to integer micro-units before
    an order-free int64 sum (parenthesization mirrored textually in
    the oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = (
        li.groupBy(
            F.col("l_returnflag").alias("a"),
            F.col("l_linestatus").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    margins = obs.select(
        "a",
        "b",
        "o",
        F.sum("o").over(Window.partitionBy("a")).alias("ra"),
        F.sum("o").over(Window.partitionBy("b")).alias("cb"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("n"),
    )
    e = F.col("ra") * 1.0 * F.col("cb") / F.col("n")
    # each cell's chi2 term quantizes to integer micro-units BEFORE the
    # sum (one floor of an engine-identical double per cell), so the
    # r*c-term accumulation is an order-free int64 sum on both engines
    chi = margins.agg(
        F.max("n").alias("n"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
        F.sum(
            F.floor(
                (F.col("o") * 1.0 - e) * (F.col("o") * 1.0 - e) / e * 1000000
            ).cast("long")
        ).alias("chi2u"),
        F.min(e).alias("min_expected"),
    )
    return chi.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("chi2u") / 1000000.0, 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2u") / 1000000.0
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
        (F.col("min_expected") >= 5.0).alias("expected_valid"),
    )


@register(
    "agg_srm_check",
    survey_row=27,
    oracle="""
    WITH assigned AS (
        SELECT 'parity' AS scheme,
               sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
               sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS b
        FROM events
        UNION ALL
        SELECT 'lossy_treatment' AS scheme,
               sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
               sum(CASE WHEN event_id % 2 = 1
                         AND event_id % 10 < 8 THEN 1 ELSE 0 END) AS b
        FROM events
    )
    SELECT scheme, a::BIGINT AS n_control, b::BIGINT AS n_treatment,
           round((a - b) * (a - b) * 1.0 / (a + b), 6) AS chi2,
           (a - b) * (a - b) * 1.0 / (a + b) > 3.841459 AS srm_detected
    FROM assigned
    ORDER BY scheme
    """,
)
def agg_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH check — the guardrail that runs BEFORE
    any experiment readout (a 50/50 assignment that arrives 55/45
    means the logging pipeline, not the treatment, caused whatever
    difference the t-test shows; Microsoft reports ~6% of
    experiments trip it): chi-square goodness-of-fit of observed arm
    counts against the designed 50/50 split, which for two arms
    collapses to (a−b)²/(a+b). Two assignment schemes ship so both
    verdicts are exercised — clean parity, and a treatment arm that
    silently drops 20% of its exposure logs (the classic SRM cause).

    Counts are one map-side-combined aggregate; the statistic is a
    single division over two exact int64s compared against the
    χ²₁ 95% critical value 3.841459. Completes the experimentation
    trio with agg_welch_ttest (means) and agg_ks_test /
    agg_mann_whitney_u (distributions) — none of whose readouts may
    be trusted when this one fires."""
    ev = load_table(spark, sf_dir, "events")
    even = (F.col("event_id") % 2 == 0).cast("int")
    odd = (F.col("event_id") % 2 == 1).cast("int")
    kept_odd = (
        (F.col("event_id") % 2 == 1) & (F.col("event_id") % 10 < 8)
    ).cast("int")
    parity = ev.agg(
        F.lit("parity").alias("scheme"),
        F.sum(even).alias("a"),
        F.sum(odd).alias("b"),
    )
    lossy = ev.agg(
        F.lit("lossy_treatment").alias("scheme"),
        F.sum(even).alias("a"),
        F.sum(kept_odd).alias("b"),
    )
    assigned = parity.unionAll(lossy)
    a, b = F.col("a"), F.col("b")
    chi2 = (a - b) * (a - b) * 1.0 / (a + b)
    return assigned.select(
        "scheme",
        a.cast("long").alias("n_control"),
        b.cast("long").alias("n_treatment"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841459).alias("srm_detected"),
    ).orderBy("scheme")


@register(
    "agg_market_basket_lift",
    survey_row=21,
    oracle="""
    WITH baskets AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey % 50)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ),
    nb AS (SELECT count(*) AS n_baskets FROM baskets),
    item AS (
        SELECT part, count(*) AS supp
        FROM (SELECT l_orderkey, unnest(parts) AS part FROM baskets)
        GROUP BY part
    ),
    pairs AS (
        SELECT parts[i.i] AS p1, parts[j.j] AS p2, count(*) AS supp12
        FROM baskets,
             unnest(range(1, len(parts) + 1)) AS i(i),
             unnest(range(1, len(parts) + 1)) AS j(j)
        WHERE i.i < j.j
        GROUP BY p1, p2
    ),
    scored AS (
        SELECT p1, p2, supp12,
               CAST(floor(supp12 * 1000000.0 * n_baskets
                          / (i1.supp * 1.0 * i2.supp)) AS BIGINT)
                   AS lift_micro,
               CAST(floor(supp12 * 1000000.0 / i1.supp) AS BIGINT)
                   AS conf_micro
        FROM pairs, nb
        JOIN item i1 ON pairs.p1 = i1.part
        JOIN item i2 ON pairs.p2 = i2.part
        WHERE supp12 * 50 >= n_baskets
    )
    SELECT p1, p2, supp12,
           round(lift_micro / 1000000.0, 6) AS lift,
           round(conf_micro / 1000000.0, 6) AS confidence
    FROM scored
    ORDER BY lift_micro DESC, p1 ASC, p2 ASC
    LIMIT 20
    """,
)
def agg_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association rules — support / confidence / LIFT
    over order baskets (the Apriori first pass: frequent pairs with a
    support floor, ranked by lift), the relational sibling of
    text_pmi_cooccurrence (lift = e^PMI on baskets). Items coarsen to
    part % 50 families so pair support is meaningful at every sf;
    the support floor (supp12 ≥ n_baskets/50) kills the rare-pair
    noise that makes raw lift explode.

    Same map-only pair architecture as PMI: each basket's sorted
    DISTINCT item array emits its i<j pairs via two posexplodes —
    no basket-keyed self-join; the exchanges are the pair-count
    aggregate and two broadcast item-support joins. Lift and
    confidence quantize to micro-units (one floor of an
    engine-identical double each) before ordering. At 100 TB the
    basket arrays are frequency-pruned first (drop items below the
    item-support floor — Apriori's monotonicity makes that lossless
    for qualifying pairs)."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select(
            "l_orderkey", (F.col("l_partkey") % 50).alias("part")
        )
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("part")).alias("parts"))
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    item = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("supp"))
    )
    pairs = (
        baskets.select(
            F.posexplode("parts").alias("i", "p1"),
            F.col("parts").alias("ps"),
        )
        .select("i", "p1", F.posexplode("ps").alias("j", "p2"))
        .filter(F.col("i") < F.col("j"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("supp12"))
    )
    i1 = item.select(F.col("part").alias("p1"), F.col("supp").alias("s1"))
    i2 = item.select(F.col("part").alias("p2"), F.col("supp").alias("s2"))
    scored = (
        pairs.crossJoin(F.broadcast(nb))
        .join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .filter(F.col("supp12") * 50 >= F.col("n_baskets"))
        .select(
            "p1",
            "p2",
            "supp12",
            F.floor(
                F.col("supp12")
                * 1000000.0
                * F.col("n_baskets")
                / (F.col("s1") * 1.0 * F.col("s2"))
            )
            .cast("long")
            .alias("lift_micro"),
            F.floor(F.col("supp12") * 1000000.0 / F.col("s1"))
            .cast("long")
            .alias("conf_micro"),
        )
    )
    return (
        scored.orderBy(
            F.col("lift_micro").desc(), F.col("p1").asc(), F.col("p2").asc()
        )
        .limit(20)
        .select(
            "p1",
            "p2",
            "supp12",
            F.round(F.col("lift_micro") / 1000000.0, 6).alias("lift"),
            F.round(F.col("conf_micro") / 1000000.0, 6).alias("confidence"),
        )
    )


@register(
    "agg_hdr_percentile_estimate",
    survey_row=22,
    oracle="""
    WITH v AS (
        SELECT CAST(floor(round(value, 2) * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE value > 0
    ),
    b AS (
        SELECT CAST(floor(ln(cents) / ln(1.1)) AS BIGINT) AS bucket,
               count(*) AS n
        FROM v GROUP BY bucket
    ),
    c AS (
        SELECT bucket, n,
               sum(n) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(n) OVER () AS total
        FROM b
    ),
    hits AS (
        SELECT min(CASE WHEN cum * 100 >= total * 50 THEN bucket END) AS b50,
               min(CASE WHEN cum * 100 >= total * 99 THEN bucket END) AS b99
        FROM c
    ),
    exact AS (
        SELECT cents AS p99_exact FROM (
            SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
                   count(*) OVER () AS n
            FROM v)
        WHERE rn = (99 * n + 99) // 100
    )
    SELECT round(exp(b50 * ln(1.1)) / 100.0, 6) AS p50_est_lo,
           round(exp((b99 + 1) * ln(1.1)) / 100.0, 6) AS p99_est_hi,
           round(p99_exact / 100.0, 6) AS p99_exact,
           exp(b99 * ln(1.1)) <= p99_exact
               AND p99_exact <= exp((b99 + 1) * ln(1.1)) AS p99_bounded
    FROM hits, exact
    """,
)
def agg_hdr_percentile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-HISTOGRAM percentile estimation — the MERGEABLE quantile
    the exact rank pick (agg_percentile_disc_cont) cannot be at
    100 TB: log-spaced buckets (base 1.1 ⇒ ≤10% relative error by
    construction) reduce the corpus to ~150 counters that merge
    across partitions, days, and clusters; the percentile is then a
    cumulative walk over the BUCKET frame. Ships with its own audit:
    the exact p99 (rank pick, affordable at gate scale) and a
    THEOREM column asserting the estimate's bucket brackets it —
    the error bound checked, not assumed.

    Bucket index = floor(ln(cents)/ln(1.1)) on exact integer cents —
    one engine-identical libm pair per row, no float accumulation;
    the cumulative window sorts ~150 buckets, never the data. This
    op + the exact twin state the standing trade: exact quantiles
    cost a global sort, HDR costs 10% relative error and merges for
    free."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    v = ev.select(
        F.floor(F.round("value", 2) * 100 + 0.5).cast("long").alias("cents")
    )
    import math

    ln11 = math.log(1.1)
    b = v.groupBy(
        F.floor(F.log("cents") / F.lit(ln11)).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    run = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = b.select(
        "bucket",
        F.sum("n").over(run).alias("cum"),
        F.sum("n").over(tot).alias("total"),
    )
    hits = c.agg(
        F.min(
            F.when(
                F.col("cum") * 100 >= F.col("total") * 50, F.col("bucket")
            )
        ).alias("b50"),
        F.min(
            F.when(
                F.col("cum") * 100 >= F.col("total") * 99, F.col("bucket")
            )
        ).alias("b99"),
    )
    wr = Window.orderBy("cents")
    wn = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    exact = (
        v.select(
            "cents",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(99 * n + 99) div 100"))
        .select(F.col("cents").alias("p99_exact"))
    )
    return hits.crossJoin(exact).select(
        F.round(F.exp(F.col("b50") * ln11) / 100.0, 6).alias("p50_est_lo"),
        F.round(F.exp((F.col("b99") + 1) * ln11) / 100.0, 6).alias(
            "p99_est_hi"
        ),
        F.round(F.col("p99_exact") / 100.0, 6).alias("p99_exact"),
        (
            (F.exp(F.col("b99") * ln11) <= F.col("p99_exact"))
            & (F.col("p99_exact") <= F.exp((F.col("b99") + 1) * ln11))
        ).alias("p99_bounded"),
    )


@register(
    "agg_two_proportion_z",
    survey_row=27,
    oracle="""
    WITH tot AS (
        SELECT count(*) AS n_p,
               sum(CAST(floor(round(value, 2) * 100 + 0.5) AS BIGINT))
                   AS s_p
        FROM events WHERE event_type = 'purchase'
    ),
    per_user AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_ctl,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(round(value, 2) * 100 + 0.5)
                                  AS BIGINT) ELSE 0 END) * max(n_p)
                        > max(s_p) * sum(CASE WHEN event_type = 'purchase'
                                         THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS converted
        FROM events, tot GROUP BY user_id
    ),
    arms AS (
        SELECT sum(is_ctl) AS n1, sum(is_ctl * converted) AS x1,
               sum(1 - is_ctl) AS n2,
               sum((1 - is_ctl) * converted) AS x2
        FROM per_user
    )
    SELECT n1::BIGINT AS n_control, x1::BIGINT AS conv_control,
           n2::BIGINT AS n_treatment, x2::BIGINT AS conv_treatment,
           round((x1 * 1.0 / n1 - x2 * 1.0 / n2)
                 / sqrt((x1 + x2) * 1.0 / (n1 + n2)
                        * (1 - (x1 + x2) * 1.0 / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z_score
    FROM arms
    """,
)
def agg_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION z-test on conversion — the binary-metric arm of
    the experimentation battery (Welch handles means, KS/MWU handle
    shapes, this handles did-they-or-didn't-they): pooled-variance z
    over per-arm converter counts (conversion = the user's MEAN
    purchase exceeds the global mean purchase — cross-multiplied to
    the exact integer compare u_Σ·n > Σ·u_n, so the threshold is
    data-derived, engine-exact, and splits every population near
    50/50: the z is always defined). Units are USERS (the
    randomization unit), not events — conversion collapses per user
    FIRST so heavy users cannot double-count, the classic
    unit-of-analysis error this formulation forbids by construction.

    Two map-side-combined aggregates (per-user collapse, then four
    arm counters); the z is one fixed IEEE sequence over four exact
    int64s. The same four counters are what a sequential monitoring
    dashboard maintains incrementally at 100 TB of event log."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.round("value", 2) * 100 + 0.5).cast("long")
    tot = ev.filter(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).alias("n_p"), F.sum(cents).alias("s_p")
    )
    p_cents = F.when(F.col("event_type") == "purchase", cents).otherwise(0)
    p_one = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    per_user = (
        ev.crossJoin(F.broadcast(tot))
        .groupBy("user_id")
        .agg(
            (
                F.sum(p_cents) * F.max("n_p")
                > F.max("s_p") * F.sum(p_one)
            )
            .cast("int")
            .alias("converted")
        )
    ).select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("is_ctl"),
        "converted",
    )
    arms = per_user.agg(
        F.sum("is_ctl").alias("n1"),
        F.sum(F.col("is_ctl") * F.col("converted")).alias("x1"),
        F.sum(1 - F.col("is_ctl")).alias("n2"),
        F.sum((1 - F.col("is_ctl")) * F.col("converted")).alias("x2"),
    )
    n1, x1, n2, x2 = F.col("n1"), F.col("x1"), F.col("n2"), F.col("x2")
    p_pool = (x1 + x2) * 1.0 / (n1 + n2)
    return arms.select(
        n1.cast("long").alias("n_control"),
        x1.cast("long").alias("conv_control"),
        n2.cast("long").alias("n_treatment"),
        x2.cast("long").alias("conv_treatment"),
        F.round(
            (x1 * 1.0 / n1 - x2 * 1.0 / n2)
            / F.sqrt(
                p_pool * (1 - p_pool) * (1.0 / n1 + 1.0 / n2)
            ),
            6,
        ).alias("z_score"),
    )


@register(
    "agg_cuped_adjusted",
    survey_row=27,
    oracle="""
    WITH bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS tm_us
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_ctl,
               CAST(floor(sum(CASE WHEN epoch_us(ts) < tm_us THEN
                       CAST(floor(round(value, 1) * 10 + 0.5) AS BIGINT)
                       ELSE 0 END) * 1000.0
                   / nullif(sum(CASE WHEN epoch_us(ts) < tm_us
                                THEN 1 ELSE 0 END), 0))
                   AS BIGINT) AS x_u,
               CAST(floor(sum(CASE WHEN epoch_us(ts) >= tm_us THEN
                       CAST(floor(round(value, 1) * 10 + 0.5) AS BIGINT)
                       ELSE 0 END) * 1000.0
                   / nullif(sum(CASE WHEN epoch_us(ts) >= tm_us
                                THEN 1 ELSE 0 END), 0))
                   AS BIGINT) AS y_u
        FROM events, bounds
        GROUP BY user_id
        HAVING x_u IS NOT NULL AND y_u IS NOT NULL
    ),
    mom AS (
        SELECT count(*) AS n, sum(x_u) AS sx, sum(y_u) AS sy,
               sum(x_u * x_u) AS sxx, sum(x_u * y_u) AS sxy,
               sum(is_ctl) AS n1, sum(is_ctl * y_u) AS sy1,
               sum(is_ctl * x_u) AS sx1
        FROM per_user
    )
    SELECT n::BIGINT AS n_users,
           round((n * sxy - sx * sy) * 1.0
                 / nullif(n * sxx - sx * sx, 0), 6) AS theta,
           round((sy1 * 1.0 / n1
                  - (sy - sy1) * 1.0 / (n - n1)) / 1000.0, 6)
               AS raw_diff,
           round(((sy1 * 1.0 / n1 - (sy - sy1) * 1.0 / (n - n1))
                  - (n * sxy - sx * sy) * 1.0
                    / nullif(n * sxx - sx * sx, 0)
                    * (sx1 * 1.0 / n1
                       - (sx - sx1) * 1.0 / (n - n1))) / 1000.0,
                 6) AS cuped_diff
    FROM mom
    """,
)
def agg_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the pre-period
    covariate adjustment every mature experimentation platform
    applies before reading an A/B test: Y_adj = Y − θ(X − E[X]) with
    θ = cov(X,Y)/var(X), where X is each user's PRE-period mean and
    Y the in-period mean (halved time range stands in for the
    pre/post boundary). Reported: θ, the raw treatment-vs-control
    difference, and the CUPED-adjusted difference (the θ·ΔX term
    subtracts the imbalance the randomization left in the
    covariate).

    Determinism architecture: per-user means quantize to integer
    MILLI-units (one floored division each — engine-identical; milli
    not micro so the x² moment stays far inside int64 at any user
    count the moments can hold), so
    the covariance/variance sufficient statistics are order-free
    int64 sums and θ one Cramer-style division at the edge —
    regression discipline (agg_regression_normal_eq) applied to
    inference. One user-keyed aggregate + one 1-row moment
    reduction; the moments are incrementally maintainable at
    100 TB."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr(
            "(unix_micros(min(ts)) + unix_micros(max(ts))) div 2"
        ).alias("tm_us")
    )
    v10 = F.floor(F.round("value", 1) * 10 + 0.5).cast("long")
    is_pre = F.unix_micros("ts") < F.col("tm_us")
    pre = F.when(is_pre, v10).otherwise(0)
    pre_n = F.when(is_pre, 1).otherwise(0)
    post = F.when(~is_pre, v10).otherwise(0)
    post_n = F.when(~is_pre, 1).otherwise(0)
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.floor(
                F.sum(pre) * 1000.0 / F.nullif(F.sum(pre_n), F.lit(0))
            )
            .cast("long")
            .alias("x_u"),
            F.floor(
                F.sum(post) * 1000.0 / F.nullif(F.sum(post_n), F.lit(0))
            )
            .cast("long")
            .alias("y_u"),
        )
        .filter(F.col("x_u").isNotNull() & F.col("y_u").isNotNull())
        .select(
            F.when(F.col("user_id") % 2 == 0, 1)
            .otherwise(0)
            .alias("is_ctl"),
            "x_u",
            "y_u",
        )
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_u").alias("sx"),
        F.sum("y_u").alias("sy"),
        F.sum(F.col("x_u") * F.col("x_u")).alias("sxx"),
        F.sum(F.col("x_u") * F.col("y_u")).alias("sxy"),
        F.sum("is_ctl").alias("n1"),
        F.sum(F.col("is_ctl") * F.col("y_u")).alias("sy1"),
        F.sum(F.col("is_ctl") * F.col("x_u")).alias("sx1"),
    )
    # theta's cross products reach n*sxy ~ 1.5e19 at sf1 — past
    # int64. DECIMAL(38,0) keeps them exact (DuckDB's BIGINT sums
    # promote to int128 natively, so the oracle needs nothing); the
    # ratio's double conversion rounds the same integer value on
    # both engines.
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    n, sx, sy = d("n"), d("sx"), d("sy")
    sxx, sxy = d("sxx"), d("sxy")
    n1, sy1, sx1 = F.col("n1"), F.col("sy1"), F.col("sx1")
    theta = (
        (n * sxy - sx * sy).cast("double")
        / F.nullif((n * sxx - sx * sx).cast("double"), F.lit(0.0))
    )
    n, sy, sx = F.col("n"), F.col("sy"), F.col("sx")
    dy = sy1 * 1.0 / n1 - (sy - sy1) * 1.0 / (n - n1)
    dx = sx1 * 1.0 / n1 - (sx - sx1) * 1.0 / (n - n1)
    return mom.select(
        n.cast("long").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(dy / 1000.0, 6).alias("raw_diff"),
        F.round((dy - theta * dx) / 1000.0, 6).alias("cuped_diff"),
    )


@register(
    "agg_theil_sen_slope",
    survey_row=27,
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority AS priority,
               (date_part('year', o_orderdate) - 1994) * 12
                   + date_part('month', o_orderdate) - 1 AS month_x,
               sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5)
                        AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.priority,
               (b.cents - a.cents) * 1.0 / (b.month_x - a.month_x) AS slope
        FROM monthly a JOIN monthly b
            ON a.priority = b.priority AND b.month_x > a.month_x
    ),
    ranked AS (
        SELECT priority, slope,
               row_number() OVER (PARTITION BY priority ORDER BY slope)
                   AS rn,
               count(*) OVER (PARTITION BY priority) AS m
        FROM pairs
    )
    SELECT priority,
           max(m)::BIGINT AS n_pairs,
           round(avg(slope), 4) AS theil_sen_cents_per_month
    FROM ranked
    WHERE rn IN ((m + 1) // 2, m // 2 + 1)
    GROUP BY priority
    ORDER BY priority
    """,
)
def agg_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN ROBUST SLOPE — the median of all pairwise slopes of
    the monthly revenue series per priority class: breakdown point
    29%, so a single crazy month (backfill, outage, currency bug)
    cannot swing the trend estimate the way it swings OLS
    (`win_rolling_regression_slope` is the fragile twin). Quadratic
    in the SERIES length, which is why the series is domain-collapsed
    FIRST: rows reduce to (priority, month) integer-cents totals
    (map-side combined, calendar-bounded at any corpus size), so the
    pair join is ~84²/2 metadata rows per priority, not corpus².

    Exactness: each slope is ONE IEEE division of two exact int64s —
    bit-identical on both engines; the median picks the middle
    value(s) by row_number (ties share a value, so equal-slope order
    ambiguity cannot change the selected VALUE), averaging the two
    central elements for even counts — the agg_exact_median_twopass
    convention."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            (
                (F.year("o_orderdate") - 1994) * 12
                + F.month("o_orderdate")
                - 1
            ).alias("month_x"),
            F.floor(F.round("o_totalprice", 2) * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("priority", "month_x")
        .agg(F.sum("cents").alias("cents"))
    )
    a = monthly.select(
        "priority",
        F.col("month_x").alias("xa"),
        F.col("cents").alias("ya"),
    )
    b = monthly.select(
        "priority",
        F.col("month_x").alias("xb"),
        F.col("cents").alias("yb"),
    )
    pairs = a.join(b, "priority").filter(F.col("xb") > F.col("xa")).select(
        "priority",
        (
            (F.col("yb") - F.col("ya")) * 1.0 / (F.col("xb") - F.col("xa"))
        ).alias("slope"),
    )
    wrank = Window.partitionBy("priority").orderBy("slope")
    wall = Window.partitionBy("priority")
    ranked = pairs.select(
        "priority",
        "slope",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("m") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("m") / 2) + 1)
    )
    return (
        mid.groupBy("priority")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            F.round(F.avg("slope"), 4).alias("theil_sen_cents_per_month"),
        )
        .orderBy("priority")
    )


@register(
    "agg_cross_correlation",
    survey_row=27,
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS day_x,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS vx,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS py
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag),
    paired AS (
        SELECT l.lag, a.vx AS x, b.py AS y
        FROM lags l
        JOIN daily a ON true
        JOIN daily b ON b.day_x = a.day_x + l.lag
    ),
    s AS (
        SELECT lag, count(*) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
               sum(x * x) AS sxx, sum(y * y) AS syy
        FROM paired GROUP BY lag
    )
    SELECT lag::BIGINT AS lag_days, n::BIGINT AS n_days,
           round((n * sxy - sx * sy)
                 / nullif(sqrt((n * sxx - sx * sx) * 1.0
                               * (n * syy - sy * sy)), 0.0), 6)
               AS pearson_r
    FROM s ORDER BY lag
    """,
)
def agg_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION at lags −3..+3 days between the daily view
    and purchase series — the lead-lag detector ("do views predict
    purchases k days later?") that `win_autocorr_profile` (self-lag)
    cannot answer. All five moment sums (Σx, Σy, Σxy, Σx², Σy²) are
    EXACT int64 over integer daily counts; Pearson r is one fixed
    IEEE sequence (two products, one sqrt, one division) per lag on
    exact integers, with zero-variance arms yielding NULL via nullif
    on both engines.

    Scale shape: the corpus collapses map-side to the daily-count
    DOMAIN (calendar-bounded forever), the 7-row lag dim broadcasts,
    and the shifted self-join is day-keyed over domain rows — so the
    quadratic-looking lag sweep costs |days|·|lags| metadata rows,
    independent of event volume. The same plan computes any lag set
    by swapping the literal range."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("day_x")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "vx"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("py"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("day_x").alias("da"), F.col("vx").alias("x"))
    b = daily.select(F.col("day_x").alias("db"), F.col("py").alias("y"))
    paired = (
        a.join(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    var_prod = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 1.0
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("lag").cast("long").alias("lag_days"),
        F.col("n").cast("long").alias("n_days"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(F.sqrt(var_prod), F.lit(0.0)),
            6,
        ).alias("pearson_r"),
    ).orderBy("lag_days")


@register(
    "agg_spearman_corr",
    survey_row=27,
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey AS nation, c.c_custkey,
               CAST(floor(round(c.c_acctbal, 2) * 100 + 0.5) AS BIGINT)
                   AS bal_c,
               sum(CAST(floor(round(o.o_totalprice, 2) * 100 + 0.5)
                        AS BIGINT)) AS spend_c
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT nation,
               2 * rank() OVER (PARTITION BY nation ORDER BY bal_c)
                 + count(*) OVER (PARTITION BY nation, bal_c) - 1
                 - count(*) OVER (PARTITION BY nation) - 1 AS cx,
               2 * rank() OVER (PARTITION BY nation ORDER BY spend_c)
                 + count(*) OVER (PARTITION BY nation, spend_c) - 1
                 - count(*) OVER (PARTITION BY nation) - 1 AS cy
        FROM spend
    ),
    s AS (
        SELECT nation, count(*) AS n,
               sum(cx * cy) AS scxy,
               sum(cx * cx) AS scxx, sum(cy * cy) AS scyy
        FROM ranked GROUP BY nation
    )
    SELECT nation, n::BIGINT AS n_customers,
           round(scxy / nullif(sqrt(scxx * 1.0 * scyy), 0.0), 6)
               AS spearman_rho
    FROM s ORDER BY nation
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION per nation between a customer's account
    balance and their realized order spend — the monotone-association
    readout that survives the heavy-tailed spend distribution where
    Pearson is outlier-dominated. Tie handling is EXACT: midranks on a
    DOUBLED scale (midrank×2 = 2·min_rank + ties − 1 — always integral,
    the agg_mann_whitney_u convention), then CENTERED per row by the
    exact doubled-midrank mean n+1 (Σ doubled midranks = n(n+1) exactly,
    so Σcx = 0 and the sx·sy cross terms vanish from ρ). Centering is
    the overflow fix: the raw-moment form's n·sxy grows ~4n⁴ and
    silently wraps int64 past ~39k rows/group; the centered moments are
    bounded by n³ (|cx|,|cy| < n), int64-exact to ~2.09M rows per nation
    — sf ≈ 350 at TPC-H customer counts, and the bound is per GROUP, not
    per table, so 100 TB wide-and-many-group shapes stay exact. ρ
    (Pearson on midranks, the tie-correct definition) is one fixed IEEE
    sequence per nation. Degenerate all-tied arms yield NULL via nullif.

    Scale shape: spend collapses map-side per customer first; the
    two rank windows partition BY NATION (parallel across 25 keys,
    each sorting only its members — never a global sort); moments
    reduce map-side. Monetary values quantize to integer cents
    before any rank, so rank order itself is engine-exact."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_nationkey").alias("nation"),
            "c_custkey",
            F.floor(F.round("c_acctbal", 2) * 100 + 0.5)
            .cast("long")
            .alias("bal_c"),
            F.floor(F.round("o_totalprice", 2) * 100 + 0.5)
            .cast("long")
            .alias("price_c"),
        )
        .groupBy("nation", "c_custkey", "bal_c")
        .agg(F.sum("price_c").alias("spend_c"))
    )
    grp_n = F.count(F.lit(1)).over(Window.partitionBy("nation"))
    cx = (
        2 * F.rank().over(Window.partitionBy("nation").orderBy("bal_c"))
        + F.count(F.lit(1)).over(Window.partitionBy("nation", "bal_c"))
        - 1
        - grp_n
        - 1
    )
    cy = (
        2 * F.rank().over(Window.partitionBy("nation").orderBy("spend_c"))
        + F.count(F.lit(1)).over(Window.partitionBy("nation", "spend_c"))
        - 1
        - grp_n
        - 1
    )
    ranked = spend.select("nation", cx.alias("cx"), cy.alias("cy"))
    s = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cx") * F.col("cy")).alias("scxy"),
        F.sum(F.col("cx") * F.col("cx")).alias("scxx"),
        F.sum(F.col("cy") * F.col("cy")).alias("scyy"),
    )
    return s.select(
        "nation",
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            F.col("scxy")
            / F.nullif(
                F.sqrt(F.col("scxx") * 1.0 * F.col("scyy")), F.lit(0.0)
            ),
            6,
        ).alias("spearman_rho"),
    ).orderBy("nation")
