"""Window-function operators — SURVEY.md §2.5 (#29–35).

Scale notes: every window here is partitioned by a real key
(customer/user/status) so the sort happens per-partition after one
shuffle on the partition key — never a single-task global window.
(#34's quartile is the one conceptually-global spec; it still
partitions by segment so each task sorts one segment. A truly global
ntile at 100 TB needs a two-pass quantile-bounds approach instead.)

Determinism: every orderBy carries a unique trailing key (orderkey /
event_id / custkey) per SURVEY.md §2.5's tie-break rule; running
aggregations over frames are ROUNDed identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import load_table


@register(
    "win_topk_per_group",
    survey_row=29,
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    ) t WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (the latest-partition-per-table shape
    of a metadata catalog): row_number + filter."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_rank_dense",
    survey_row=30,
    oracle="""
    SELECT o_orderkey, o_orderstatus, price_bucket,
           rank()       OVER (PARTITION BY o_orderstatus ORDER BY price_bucket DESC) AS rnk,
           dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY price_bucket DESC) AS drnk
    FROM (SELECT o_orderkey, o_orderstatus,
                 CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_bucket
          FROM orders) t
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank with real ties (bucketed price). Tied rows
    get identical ranks, so no tie-break key is needed for
    determinism."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") / 50000).cast("long").alias("price_bucket"),
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("price_bucket").desc())
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "price_bucket",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_lag_lead",
    survey_row=31,
    oracle="""
    SELECT event_id, user_id, ts, value,
           round(value - lag(value) OVER w, 6) AS delta_prev,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-time deltas (lag) and next-event peek (lead) —
    the sessionization prereq for stream analysis."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_running_sum",
    survey_row=32,
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer in order-date order."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "win_moving_avg",
    survey_row=33,
    oracle="""
    SELECT event_id, user_id, ts,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row trailing moving average of event value per user."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(w), 6).alias("mavg3"),
    )


@register(
    "win_ntile_quartile",
    survey_row=34,
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
    FROM customer
    """,
)
def win_ntile_quartile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance quartile within each market segment."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "win_first_last",
    survey_row=35,
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)  OVER w AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last order price per customer over the full-partition
    frame (last_value needs the explicit UNBOUNDED FOLLOWING frame —
    the default frame would return the current row)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
    )


@register(
    "win_percent_rank_cume",
    survey_row=30,
    oracle="""
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions over a total order (unique
    key appended → ties impossible → bit-deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "win_range_frame",
    survey_row=32,
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER w, 2) AS trailing_30d_spend,
           count(*) OVER w                    AS n_orders_30d
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey
        ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
    )
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): per customer, total
    spend in the 30 days up to and including each order. Unlike ROWS
    frames, RANGE includes all peers of the current order-date, so the
    result is deterministic without a tie-break key."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "day_num",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d_spend"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


@register(
    "win_nth_lead",
    survey_row=31,
    oracle="""
    SELECT o_custkey, o_orderkey,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           lead(o_totalprice, 2, -1.0) OVER w AS price_after_next
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def win_nth_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over a full frame + lead with offset and default.
    Unique trailing sort key (orderkey) per the §2.5 tie-break rule."""
    o = load_table(spark, sf_dir, "orders")
    w_order = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w_order.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
        F.lead("o_totalprice", 2, -1.0).over(w_order).alias("price_after_next"),
    )


@register(
    "win_ignore_nulls",
    survey_row=35,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           last_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                      IGNORE NULLS) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_final_price
    FROM orders
    """,
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window semantics: carry the most recent non-NULL
    observation forward per key (here: each customer's latest
    final-order price as of each order) — the gap-fill /
    last-observation-carried-forward idiom of feature backfills and
    SCD reads. One shuffle on the partition key, one ordered pass;
    NULL rows cost nothing extra because the frame skips them inside
    the window operator rather than via a self-join."""
    o = load_table(spark, sf_dir, "orders")
    price_f = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.last(price_f, ignorenulls=True).over(w).alias("last_final_price"),
    )


@register(
    "win_distinct_running",
    survey_row=32,
    oracle="""
    WITH flagged AS (
        SELECT event_id, user_id, ts,
               CASE WHEN row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT event_id, user_id, ts,
           sum(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS n_distinct_types
    FROM flagged
    """,
)
def win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — a frame neither Spark
    nor DuckDB supports natively (`count(DISTINCT) OVER` is rejected
    by both planners), expressed with the standard two-window
    rewrite: flag each (user, event_type)'s FIRST occurrence with a
    row_number window, then running-sum the flags over the user's
    timeline. Both windows share the user_id shuffle (the second
    window's partition key is a prefix of the first's), so the plan
    is one exchange + one sort — the same cost as any per-user
    window, where a naive distinct-set accumulator would carry
    O(|types|) state per row. Ties are broken by (ts, event_id) in
    both windows, so the running count is total-order deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    return flagged.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("first_seen").over(w_run).cast("long").alias("n_distinct_types"),
    )


@register(
    "win_gap_fill",
    survey_row=32,
    oracle="""
    WITH span AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    hours AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    observed AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, h.hour, coalesce(o.n, 0)::BIGINT AS n
    FROM types t CROSS JOIN hours h
    LEFT JOIN observed o
      ON o.event_type = t.event_type AND o.hour = h.hour
    """,
)
def win_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (gap fill): hourly event counts per
    type over the stream's full [min, max] hour span, with MISSING
    hours materialized at zero — the step that makes downstream
    moving averages / anomaly scores correct (a window over sparse
    rows silently skips empty buckets). The dense spine is built
    relationally: the 1-row global span aggregate → `sequence()` +
    explode into the hour spine, cross-joined with the distinct type
    dim (both broadcast — one is literally one row and the other
    |types| rows), then a left join pulls observed counts in.
    Shuffles: one for the observed-counts agg, one for the type dim;
    the spine join is broadcast, so the fact is never re-shuffled.
    At 100 TB the spine stays tiny (hours × types is calendar-sized)
    regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    observed = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        types.crossJoin(F.broadcast(hours))
        .join(observed, ["event_type", "hour"], "left")
        .select(
            "event_type", "hour", F.coalesce("n", F.lit(0)).alias("n")
        )
    )


@register(
    "win_streak_longest",
    survey_row=32,
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day) AS INT) AS anchor
        FROM days
    ),
    runs AS (
        SELECT user_id, count(*)::BIGINT AS run_len, min(day) AS run_start
        FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id,
           max(run_len)::BIGINT AS longest_streak,
           min(run_start) FILTER (WHERE run_len = (
               SELECT max(r2.run_len) FROM runs r2
               WHERE r2.user_id = runs.user_id)) AS streak_start
    FROM runs
    GROUP BY user_id
    """,
)
def win_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands DATE variant (distinct from session windows,
    which group by time GAPS; streaks group by calendar adjacency):
    distinct active days → `day − row_number` collapses each
    consecutive run to a constant anchor → one agg per run → max run
    per user, with the earliest start among tied maxima as a
    deterministic tie-break. One shuffle on user_id feeds the
    row_number sort AND both rollups (the run and user aggs key on
    user_id prefixes, so Catalyst reuses the partitioning). The
    oracle's correlated-subquery tie-break is expressed in Spark as
    a max_by over an ordered struct — same rows, no second pass."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("anchor"),
    )
    runs = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("day").alias("run_start"),
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.min_by(
            "run_start",
            F.struct((-F.col("run_len")).alias("neg"), F.col("run_start")),
        ).alias("streak_start"),
    )


@register(
    "win_interval_union_coverage",
    survey_row=33,
    oracle="""
    WITH spans AS (
        SELECT user_id, event_type,
               min(ts) AS s_start, max(ts) AS s_end
        FROM events
        GROUP BY user_id, event_type
    ),
    flagged AS (
        SELECT user_id, event_type, s_start, s_end,
               CASE WHEN s_start > coalesce(max(s_end) OVER (
                        PARTITION BY user_id
                        ORDER BY s_start, s_end, event_type
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        TIMESTAMP '1900-01-01')
                    THEN 1 ELSE 0 END AS new_island
        FROM spans
    ),
    islands AS (
        SELECT user_id, s_start, s_end,
               sum(new_island) OVER (
                   PARTITION BY user_id
                   ORDER BY s_start, s_end, event_type
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island_id
        FROM flagged
    )
    SELECT user_id,
           count(DISTINCT island_id)::BIGINT AS n_islands,
           round(sum(dur) / 3600.0, 4) AS covered_hours
    FROM (
        SELECT user_id, island_id,
               (epoch_us(max(s_end)) - epoch_us(min(s_start))) / 1000000.0
                   AS dur
        FROM islands
        GROUP BY user_id, island_id
    )
    GROUP BY user_id
    """,
)
def win_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION length — merge overlapping intervals (per-user
    per-event-type activity spans) and measure covered time: the
    sweep-line islands pattern. An interval starts a new island iff
    its start exceeds the RUNNING MAX of all prior ends (an exclusive
    rows frame — `lag(end)` alone is wrong when an earlier interval
    engulfs a later one); island id is the cumsum of those flags, and
    coverage sums per-island extents. One user_id shuffle feeds the
    span agg, both windows, and both rollups. Microsecond-exact
    epoch math; BOTH windows share ONE total order (start, end, type)
    — flagging under one tie order and accumulating under another
    would let a tied engulfed interval land in either island. At 100 TB
    this is the SLA/uptime/coverage query over any interval log —
    the windows are metadata-free, no self-join, no explode to
    per-second grain (the naive rewrite that's 10⁶× bigger)."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    prior_end = (
        Window.partitionBy("user_id")
        .orderBy("s_start", "s_end", "event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.select(
        "user_id",
        "event_type",
        "s_start",
        "s_end",
        F.when(
            F.col("s_start")
            > F.coalesce(
                F.max("s_end").over(prior_end),
                F.lit("1900-01-01").cast("timestamp"),
            ),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    cum = (
        Window.partitionBy("user_id")
        .orderBy("s_start", "s_end", "event_type")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id",
        "s_start",
        "s_end",
        F.sum("new_island").over(cum).alias("island_id"),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        (
            (
                F.unix_micros(F.max("s_end"))
                - F.unix_micros(F.min("s_start"))
            )
            / 1_000_000.0
        ).alias("dur")
    )
    return per_island.groupBy("user_id").agg(
        F.countDistinct("island_id").alias("n_islands"),
        F.round(F.sum("dur") / 3600.0, 4).alias("covered_hours"),
    )


@register(
    "win_median_running",
    survey_row=33,
    oracle="""
    SELECT event_id, user_id, ts,
           round(median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS running_median
    FROM events
    WHERE user_id % 50 = 0
    """,
)
def win_median_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING EXACT MEDIAN per user — the robust-baseline monitor
    (running mean is one outlier away from useless; running median is
    not). Spark's exact `percentile` aggregate runs over the expanding
    frame; even-count frames interpolate (a+b)/2 identically to the
    oracle's median. The frame recompute is O(n) per row — fine on the
    1-in-50-user monitor slice this targets; for ALL users at 100 TB
    the right tool is the two-pass broadcast-back shape
    (`agg_median_abs_deviation`) or a sketch (`agg_approx_percentiles`)
    — this op exists for the exact-on-a-slice contract."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 50 == 0
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias(
            "running_median"
        ),
    )


@register(
    "win_vwap_running",
    survey_row=32,
    oracle="""
    WITH c AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor(l_quantity + 0.5) AS BIGINT) AS pq_e2,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS q_i
        FROM lineitem
        WHERE l_partkey % 40 = 0
    )
    SELECT l_partkey, l_shipdate, l_linenumber,
           CAST((200 * sum(pq_e2) OVER w + sum(q_i) OVER w)
                // (2 * sum(q_i) OVER w) AS DOUBLE) / 10000.0 AS vwap
    FROM c
    WINDOW w AS (PARTITION BY l_partkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_vwap_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING VWAP (volume-weighted average price) per part over its
    shipment history — the weighted-running-ratio shape (finance's
    VWAP, a data platform's weighted rolling cost): TWO running sums
    over ONE shared frame, divided — never a running avg of per-row
    ratios, which weights every row equally and is simply the wrong
    number. Both sums share the same window sort, so the plan carries
    one exchange + one sort for both. Total order includes
    (l_orderkey, l_linenumber) so same-day shipments accumulate
    identically on both engines; quantities are positive so the
    denominator never vanishes. Monitor slice (1-in-40 parts), same
    contract as the other exact-on-a-slice windows.

    Both running sums accumulate in exact INTEGER units (price·qty in
    cents — price is cents-exact, quantity integer-valued): a double
    running sum diverged by one ULP in the 4th decimal at sf0.1
    (DuckDB's segment-tree window state associates the additions
    differently than Spark's running frame; same class as the
    join_multiway_star ULP drift). Integer addition is associative, so
    the gate is stable at any accumulation length — and the 4-decimal
    HALF_UP rounding is ALSO integer ((200·Σpq + Σq) DIV (2·Σq)):
    even on identical quotient doubles, Spark's BigDecimal-of-
    shortest-repr round() and DuckDB's binary round() disagree at
    .xxxx5 boundaries (5 rows at sf0.1). No float op happens before
    the final exact-integer-to-double display cast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 40 == 0
    )
    pq_e2 = (
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        * F.floor(F.col("l_quantity") + 0.5).cast("long")
    )
    q_i = F.floor(F.col("l_quantity") + 0.5).cast("long")
    c = li.select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        pq_e2.alias("pq_e2"),
        q_i.alias("q_i"),
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = c.select(
        "l_partkey",
        "l_shipdate",
        "l_linenumber",
        F.sum("pq_e2").over(w).alias("spq"),
        F.sum("q_i").over(w).alias("sq"),
    )
    return s.select(
        "l_partkey",
        "l_shipdate",
        "l_linenumber",
        (
            F.expr("(200 * spq + sq) DIV (2 * sq)").cast("double") / 10000.0
        ).alias("vwap"),
    )


@register(
    "win_rolling_zscore",
    survey_row=33,
    oracle="""
    WITH r AS (
        SELECT user_id, event_id, value,
               avg(value) OVER w AS mu,
               stddev_samp(value) OVER w AS sigma,
               count(*) OVER w AS n_win
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round((value - mu) / sigma, 4) AS zscore
    FROM r
    WHERE n_win >= 5 AND sigma > 1e-12
      AND abs((value - mu) / sigma) > 2.0
    """,
)
def win_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rolling anomaly detection: z-score of each event's
    value against its user's trailing 10-event window (mean +
    sample stddev over a ROWS frame), flagging |z| > 2 once the
    window has warmed up (>= 5 rows). This is the streaming-friendly
    per-entity variant of the global daily z-score op: one shuffle
    on user_id, all three frame aggregates share the single sorted
    window pass. Ordering (ts, event_id) is a per-user unique key,
    so the frame contents — and therefore the flagged set — are
    engine-deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp(
        "value"
    ).over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_win"),
            F.stddev_samp("value").over(w).alias("sigma"),
            z.alias("z"),
        )
        .filter(
            (F.col("n_win") >= 5)
            & (F.col("sigma") > 1e-12)
            & (F.abs(F.col("z")) > 2.0)
        )
        .select("user_id", "event_id", F.round("z", 4).alias("zscore"))
    )


@register(
    "win_ewma_smoothed",
    survey_row=33,
    oracle="""
    WITH v AS (
        SELECT user_id, event_id,
               array_agg(value) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vals
        FROM events
    )
    SELECT user_id, event_id,
           CAST(floor(list_reduce(vals,
               (acc, x) -> acc * CAST(0.8 AS DOUBLE)
                           + x * CAST(0.2 AS DOUBLE)) * 1e9 + 0.5)
               AS BIGINT) AS ewma_nano
    FROM v
    """,
)
def win_ewma_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (α = 0.2) over each user's trailing 10 events — the
    smoothing every monitoring dashboard runs, and an operator
    NEITHER engine has natively: EWMA's recurrence isn't a window
    aggregate. Expressed as collect-frame + higher-order fold:
    `collect_list` over the ROWS frame (frame order = sort order,
    deterministic via the (ts, event_id) unique key), then
    `F.aggregate` seeded with the OLDEST element folds
    acc·(1−α) + x·α left-to-right — identical order to DuckDB's
    seed-with-first `list_reduce`, so the doubles agree bit-for-bit
    and the result fixed-points to nano units with no rounding
    hazard. The bounded frame is what keeps this scalable: state is
    ≤ 10 doubles per row, never the user's full history."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    vals = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.size("vals") - 1),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: acc * F.lit(0.8) + x * F.lit(0.2),
    )
    return (
        ev.select("user_id", "event_id", vals.alias("vals"))
        .select(
            "user_id",
            "event_id",
            F.floor(ewma * F.lit(1e9) + F.lit(0.5))
            .cast("long")
            .alias("ewma_nano"),
        )
    )


@register(
    "win_cusum_alarm",
    survey_row=33,
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS grp,
               CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(floor(round(sum(o_totalprice), 2) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    drift AS (
        SELECT grp, day, cents,
               CAST(floor(avg(cents) OVER (PARTITION BY grp)) AS BIGINT)
                   AS mu
        FROM daily
    ),
    pref AS (
        SELECT grp, day, cents,
               sum(cents - mu - 50000) OVER (
                   PARTITION BY grp ORDER BY day) AS p
        FROM drift
    ),
    cusum AS (
        SELECT grp, day, p,
               p - least(0, min(p) OVER (
                   PARTITION BY grp ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS s
        FROM pref
    )
    SELECT grp, day, s::BIGINT AS cusum_cents,
           s > 10000000 AS alarm
    FROM cusum
    """,
)
def win_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over a per-group daily series —
    the drift monitor a collector attaches to table-growth or
    query-volume metrics. The textbook recurrence S_i = max(0,
    S_{i-1} + (x_i - mu - k)) is NOT a plain window aggregate (each
    term depends on the previous clamp), but it has a closed window
    form: with prefix sums P_i of the drift-adjusted series,
    S_i = P_i - min(0, min_{j<=i} P_j). Two running windows (sum +
    min) over one partition sort replace the sequential scan — the
    trick that makes CUSUM distributable at all.

    Scale: the daily rollup is the only corpus-sized shuffle; the
    window frame runs over |group|x|days| metadata-sized rows. The
    reference mean mu is the per-group average (derived, so the gate
    is deterministic); slack k and alarm threshold h are fixed
    policy constants. Numerics: the series is converted to INTEGER
    CENTS immediately after the daily rollup and mu is floored to a
    whole cent, so every window term is exact int64 arithmetic —
    the first float form of this op flipped a .xx5 rounding boundary
    run-to-run because avg() accumulation order is nondeterministic
    under partial aggregation; integers make the gate (and the
    monitor itself) order-independent. The cents cast is an explicit
    floor(x*100 + 0.5) because double-to-int64 CAST rounds in DuckDB
    but truncates in Spark."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.floor(F.round(F.sum("o_totalprice"), 2) * 100 + 0.5)
        .cast("long")
        .alias("cents")
    )
    w_grp = Window.partitionBy("grp")
    w_run = Window.partitionBy("grp").orderBy("day")
    w_min = w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    drift = daily.withColumn(
        "mu", F.floor(F.avg("cents").over(w_grp)).cast("long")
    )
    pref = drift.withColumn(
        "p", F.sum(F.col("cents") - F.col("mu") - 50000).over(w_run)
    )
    s = F.col("p") - F.least(F.lit(0), F.min("p").over(w_min))
    return pref.select(
        "grp",
        "day",
        s.cast("long").alias("cusum_cents"),
        (s > 10000000).alias("alarm"),
    )


@register(
    "win_max_drawdown",
    survey_row=33,
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS grp,
               CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(floor(round(sum(o_totalprice), 2) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    lev AS (
        SELECT grp, day,
               sum(cents) OVER (PARTITION BY grp ORDER BY day) AS level
        FROM daily
    ),
    cum AS (
        SELECT grp, day, level,
               max(level) OVER (PARTITION BY grp ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak
        FROM lev
    )
    SELECT grp,
           max(peak - level)::BIGINT AS max_drawdown_cents,
           max_by(day, (peak - level) * 100000
                       + date_diff('day', DATE '1970-01-01', day))
               AS trough_day
    FROM cum GROUP BY grp
    """,
)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum DRAWDOWN per group — peak-to-trough decline of a
    cumulative series (for a collector: how far below its high-water
    mark a table's row count or a team's quota consumption has
    fallen; the finance formulation is identical). Another
    sequential-looking statistic with an exact window form:
    drawdown_i = running_max(level)_i − level_i, and the answer is
    one max over that — same family as `win_cusum_alarm`'s
    prefix-identity, here with the running max OVER a running sum
    (windows compose).

    Ties on the deepest drawdown resolve to the LATEST trough day
    (max_by over the (drawdown, day) pair — the most recent time the
    series was this far underwater); the tie rule is identical in
    both engines, so the gate pins it.
    Integer cents everywhere (same explicit floor(+0.5) cast as
    CUSUM); the daily rollup is the only corpus-sized shuffle."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.floor(F.round(F.sum("o_totalprice"), 2) * 100 + 0.5)
        .cast("long")
        .alias("cents")
    )
    w_run = Window.partitionBy("grp").orderBy("day")
    w_peak = w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "grp",
        "day",
        F.sum("cents").over(w_run).alias("level"),
    ).select(
        "grp",
        "day",
        "level",
        F.max("level").over(w_peak).alias("peak"),
    )
    dd = F.col("peak") - F.col("level")
    # scalar composite order key: DuckDB's max_by has no struct-key
    # overload; day-number < 1e5 keeps the composite inside int64
    return cum.groupBy("grp").agg(
        F.max(dd).cast("long").alias("max_drawdown_cents"),
        F.max_by(
            "day", dd * 100000 + F.datediff("day", F.lit("1970-01-01"))
        ).alias("trough_day"),
    )


@register(
    "win_time_weighted_avg",
    survey_row=33,
    oracle="""
    WITH seq AS (
        SELECT user_id, ts,
               CAST(floor(round(value, 1) * 10 + 0.5) AS BIGINT) AS v10,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    spans AS (
        SELECT user_id, v10,
               date_diff('second', ts, nxt) AS dur_s
        FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           sum(dur_s)::BIGINT AS total_s,
           round(sum(v10 * dur_s) / (10.0 * nullif(sum(dur_s), 0)), 6)
               AS twap
    FROM spans GROUP BY user_id
    """,
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average per key — the correct aggregate for
    irregularly-sampled gauges (a table's size sampled at random
    collection times, a sensor, a position): each observation is
    weighted by how long it was current (until the next event), so a
    burst of samples in one minute doesn't dominate a quiet day.
    The plain avg() answers a different (usually wrong) question.

    Weights come from lead(ts) per key — one window over the user
    partition; the value is decimalized to tenths as EXACT integers
    (floor(+0.5), the CUSUM cast rule), so sum(v·dur) is an
    order-independent int64 sum and the only float is the final
    division. Users with a single event have no current-span and
    drop (sum over empty), matching both engines; zero-duration
    ties contribute nothing by construction."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        F.floor(F.round("value", 1) * 10 + 0.5).cast("long").alias("v10"),
        F.lead("ts").over(w).alias("nxt"),
    )
    spans = seq.filter(F.col("nxt").isNotNull()).select(
        "user_id",
        "v10",
        (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).alias("dur_s"),
    )
    return spans.groupBy("user_id").agg(
        F.sum("dur_s").cast("long").alias("total_s"),
        F.round(
            F.sum(F.col("v10") * F.col("dur_s"))
            / (10.0 * F.nullif(F.sum("dur_s"), F.lit(0))),
            6,
        ).alias("twap"),
    )


@register(
    "win_seasonal_naive_mae",
    survey_row=33,
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS grp,
               CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(floor(round(sum(o_totalprice), 2) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    f AS (
        SELECT grp, day, cents,
               lag(cents) OVER (
                   PARTITION BY grp, dayofweek(day) ORDER BY day)
                   AS forecast
        FROM daily
    )
    SELECT grp,
           count(forecast)::BIGINT AS n_forecasts,
           round(avg(abs(cents - forecast)) / 100.0, 2) AS mae,
           round(sum(abs(cents - forecast)) * 100.0
                 / nullif(sum(CASE WHEN forecast IS NOT NULL
                              THEN cents END), 0), 6) AS wape_pct
    FROM f GROUP BY grp
    """,
)
def win_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE forecast evaluation — the baseline every
    capacity-planning forecast must beat (predict each day with the
    previous same-weekday value), scored as MAE and WAPE per group.
    A collector runs this over table-growth and query-volume series
    to decide which tables deserve a real model; publishing the
    naive error is what keeps forecast quality claims honest.

    The forecast is one lag over a (group, day-of-week) partition —
    the seasonal lag without a 7-row frame or a self-join; first
    occurrence of each weekday has no forecast and is excluded from
    scoring on both sides (count(forecast) gates it). Integer cents
    throughout (the CUSUM cast rule); MAE's division keeps a /100
    rescale so the report reads in currency units; WAPE normalizes
    by actuals over SCORED days only."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.floor(F.round(F.sum("o_totalprice"), 2) * 100 + 0.5)
        .cast("long")
        .alias("cents")
    )
    w = Window.partitionBy("grp", F.dayofweek("day")).orderBy("day")
    f = daily.select(
        "grp",
        "day",
        "cents",
        F.lag("cents").over(w).alias("forecast"),
    )
    err = F.abs(F.col("cents") - F.col("forecast"))
    return f.groupBy("grp").agg(
        F.count("forecast").alias("n_forecasts"),
        F.round(F.avg(err) / 100.0, 2).alias("mae"),
        F.round(
            F.sum(err)
            * 100.0
            / F.nullif(
                F.sum(F.when(F.col("forecast").isNotNull(), F.col("cents"))),
                F.lit(0),
            ),
            6,
        ).alias("wape_pct"),
    )


@register(
    "win_pareto_cutpoint",
    survey_row=32,
    oracle="""
    WITH cust AS (
        SELECT o_orderpriority AS grp, o_custkey,
               CAST(floor(round(sum(o_totalprice), 2) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT grp, o_custkey, cents,
               row_number() OVER (PARTITION BY grp
                   ORDER BY cents DESC, o_custkey) AS rk,
               sum(cents) OVER (PARTITION BY grp
                   ORDER BY cents DESC, o_custkey) AS running,
               sum(cents) OVER (PARTITION BY grp) AS total,
               count(*) OVER (PARTITION BY grp) AS n_cust
        FROM cust
    )
    SELECT grp,
           min(rk)::BIGINT AS top_accounts,
           max(n_cust)::BIGINT AS n_accounts,
           round(min(rk) * 100.0 / max(n_cust), 6) AS pct_of_accounts
    FROM ranked
    WHERE running * 5 >= total * 4
    GROUP BY grp
    """,
)
def win_pareto_cutpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO 80/20 cutpoint per group — the concentration question
    `agg_gini_concentration` answers as a coefficient, answered
    instead as an actionable headcount: how many top customers
    carry 80 % of revenue (the account-management / capacity-tier
    list size)? First rank whose running revenue share crosses 80 %,
    as a count and a percentage of the customer base.

    The crossing test is ALL-INTEGER (running·5 ≥ total·4 — no 0.8
    float literal, so the boundary row can't ULP-flip), ranks carry
    the (cents DESC, custkey) tie-break, and min(rk) under the
    crossing filter IS the cutpoint. One per-customer rollup (the
    corpus shuffle), then windows over the |group|×|customers|
    frame."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy(
        F.col("o_orderpriority").alias("grp"), "o_custkey"
    ).agg(
        F.floor(F.round(F.sum("o_totalprice"), 2) * 100 + 0.5)
        .cast("long")
        .alias("cents")
    )
    w_ord = Window.partitionBy("grp").orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    )
    w_grp = Window.partitionBy("grp")
    ranked = cust.select(
        "grp",
        F.row_number().over(w_ord).alias("rk"),
        F.sum("cents")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running"),
        F.sum("cents").over(w_grp).alias("total"),
        F.count(F.lit(1)).over(w_grp).alias("n_cust"),
    )
    return (
        ranked.filter(F.col("running") * 5 >= F.col("total") * 4)
        .groupBy("grp")
        .agg(
            F.min("rk").cast("long").alias("top_accounts"),
            F.max("n_cust").cast("long").alias("n_accounts"),
            F.round(F.min("rk") * 100.0 / F.max("n_cust"), 6).alias(
                "pct_of_accounts"
            ),
        )
    )


@register(
    "win_peak_concurrency",
    survey_row=33,
    oracle="""
    WITH deltas AS (
        SELECT user_id, ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT user_id, ts + INTERVAL 30 MINUTE, -1 FROM events
    ),
    swept AS (
        SELECT user_id, t, delta,
               sum(delta) OVER (
                   PARTITION BY user_id
                   ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS live
        FROM deltas
    )
    SELECT user_id,
           max(live)::BIGINT AS peak_concurrency,
           max_by(CAST(floor(epoch(t)) AS BIGINT),
                  live * 100000000000 - CAST(floor(epoch(t)) AS BIGINT))
               AS peak_at_epoch
    FROM swept GROUP BY user_id
    """,
)
def win_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY via the sweep line — capacity planning's
    core question (max simultaneous sessions/queries/connections
    per principal), answered without materializing any pairwise
    overlap: each 30-min session contributes +1 at start and −1 at
    end, a running sum over the merged boundary stream IS the live
    count at every instant, and its max is the peak. The classic
    O(n log n) interval algorithm, distributed as one keyed window.

    Boundary-order tie rule is load-bearing and pinned: at equal
    timestamps the −1 sorts BEFORE the +1 (ORDER BY t, delta), so
    back-to-back sessions don't double-count — the off-by-one every
    naive implementation ships. Peak timestamp ties resolve to the
    EARLIEST instant via the composite max_by key (epoch seconds
    subtracted from the scaled count). One shuffle on the key; the
    boundary stream is 2× events, narrow."""
    ev = load_table(spark, sf_dir, "events")
    deltas = ev.select(
        "user_id", F.col("ts").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        ev.select(
            "user_id",
            (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = deltas.withColumn("live", F.sum("delta").over(w))
    return swept.groupBy("user_id").agg(
        F.max("live").cast("long").alias("peak_concurrency"),
        F.max_by(
            F.unix_timestamp("t"),
            F.col("live") * 100000000000 - F.unix_timestamp("t"),
        ).alias("peak_at_epoch"),
    )


@register(
    "win_since_last_error",
    survey_row=31,
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, event_type, rn,
               max(CASE WHEN event_type = 'error' THEN rn END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS last_err_rn
        FROM seq
    )
    SELECT user_id, event_id,
           (rn - coalesce(last_err_rn, 0))::BIGINT
               AS events_since_error,
           last_err_rn IS NULL AS never_errored
    FROM marked
    """,
)
def win_since_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENTS-SINCE-LAST-ERROR running counter — the reset-counter
    idiom (the "days since last incident" sign, per key, per
    event): a counter that RESETS at each marker has no direct
    window aggregate, but composes from two: the running max of
    marker POSITIONS (carried forward over the preceding frame)
    subtracted from the current position. Rows before any error
    count from the stream start and carry the never_errored flag —
    the distinction MTBF denominators must respect (censored, not
    zero).

    Two stacked windows over ONE (user, time) sort — the same
    shared-sort contract as CUSUM (plan-asserted there); pure
    integer rank arithmetic, no state, no fold — the cheapest
    member of the sequential-state family precisely because the
    reset structure happens to be prefix-expressible."""
    ev = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number().over(w_seq).alias("rn"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = seq.withColumn(
        "last_err_rn",
        F.max(
            F.when(F.col("event_type") == "error", F.col("rn"))
        ).over(w_prev),
    )
    return marked.select(
        "user_id",
        "event_id",
        (F.col("rn") - F.coalesce("last_err_rn", F.lit(0)))
        .cast("long")
        .alias("events_since_error"),
        F.col("last_err_rn").isNull().alias("never_errored"),
    )


@register(
    "win_autocorr_profile",
    survey_row=29,
    oracle="""
    WITH s AS (
        SELECT event_type,
               round(value * 100)::BIGINT AS x,
               lag(round(value * 100)::BIGINT, 1) OVER w AS l1,
               lag(round(value * 100)::BIGINT, 2) OVER w AS l2,
               lag(round(value * 100)::BIGINT, 3) OVER w AS l3
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
    ),
    pairs AS (
        SELECT event_type, u.p.lg AS lg, s.x, u.p.y AS y
        FROM s, unnest([{'lg': 1, 'y': l1},
                        {'lg': 2, 'y': l2},
                        {'lg': 3, 'y': l3}]) AS u(p)
        WHERE u.p.y IS NOT NULL
    ),
    m AS (
        SELECT event_type, lg,
               count(*)::DOUBLE AS n,
               sum(x)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
               sum(x * y)::DOUBLE AS sxy,
               sum(x * x)::DOUBLE AS sxx, sum(y * y)::DOUBLE AS syy
        FROM pairs GROUP BY event_type, lg
    )
    SELECT event_type, lg AS lag,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 6) AS acf
    FROM m
    ORDER BY event_type, lag
    """,
)
def win_autocorr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of the event value per event type —
    the seasonality/persistence profile a metrics pipeline computes
    before choosing a forecasting model. One window pass produces all
    three lagged series (single sort per type), the lag columns pivot
    to rows via explode (no re-scan, no self-join — the naive
    formulation joins events to itself once per lag), and the
    Pearson terms come from INTEGER moment sums: values are
    cents-scaled to exact BIGINTs first, so every sum is
    order-independent and engine-exact; the only float math is the
    final closed-form correlation over those exact integers (cast to
    double, < 2^53 at fixture scales, identical on both engines).
    At 100 TB: one shuffle on event_type for the window, then a
    6-sum partial aggregate — corr() built-ins accumulate
    order-dependent doubles, this shape does not."""
    ev = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("event_type").orderBy("event_id")
    s = ev.select(
        "event_type",
        x.alias("x"),
        F.lag(x, 1).over(w).alias("l1"),
        F.lag(x, 2).over(w).alias("l2"),
        F.lag(x, 3).over(w).alias("l3"),
    )
    pairs = s.select(
        "event_type",
        "x",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("lg"), F.col("l1").alias("y")
                ),
                F.struct(
                    F.lit(2).alias("lg"), F.col("l2").alias("y")
                ),
                F.struct(
                    F.lit(3).alias("lg"), F.col("l3").alias("y")
                ),
            )
        ).alias("p"),
    ).select(
        "event_type", F.col("p.lg").alias("lg"), "x", F.col("p.y").alias("y")
    ).filter(F.col("y").isNotNull())
    m = pairs.groupBy("event_type", "lg").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    acf = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        m.select(
            "event_type",
            F.col("lg").alias("lag"),
            F.round(acf, 6).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@register(
    "win_ohlc_resample",
    survey_row=29,
    oracle="""
    WITH k AS (
        SELECT event_type,
               time_bucket(INTERVAL 15 MINUTE, ts) AS bucket,
               value,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                   || lpad(CAST(event_id AS VARCHAR), 10, '0') AS ord,
               round(value * 100)::BIGINT AS cents
        FROM events
    )
    SELECT event_type, bucket,
           arg_min(value, ord) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ord) AS close,
           count(*)::BIGINT AS n_events,
           round(sum(cents) / 100.0, 2) AS volume
    FROM k
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def win_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick resample — the canonical time-series
    downsampling (metrics dashboards, market data): per (event type,
    15-minute bucket), the opening/high/low/closing value plus count
    and exact volume. ONE aggregation pass: open/close are
    min_by/max_by over a FIXED-WIDTH string sort key (ISO-microsecond
    timestamp + zero-padded event id — lexicographic ≡ chronological
    and unique, so first/last are engine-deterministic without any
    window sort); volume accumulates cents-scaled INTEGERS, never
    doubles. At 100 TB this is a single partial-aggregated shuffle of
    one row per (type, bucket) — the windowed-sort formulation
    (row_number ASC/DESC twice) pays a full sort for the same answer
    and is rejected in-plan (no Window, no Sort before the agg)."""
    ev = load_table(spark, sf_dir, "events")
    ord_key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    return (
        ev.select(
            "event_type",
            F.window("ts", "15 minutes").start.alias("bucket"),
            "value",
            ord_key.alias("ord"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.min_by("value", F.col("ord")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ord")).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("cents") / 100.0, 2).alias("volume"),
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "win_bollinger_bands",
    survey_row=29,
    oracle="""
    WITH c AS (
        SELECT event_type, event_id, value,
               round(value * 100)::BIGINT AS cents
        FROM events
    ),
    f AS (
        SELECT event_type, event_id, value,
               count(*) OVER w AS n,
               sum(cents) OVER w AS sx,
               sum(cents * cents) OVER w AS sxx
        FROM c
        WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id, value,
           round(CAST(sx AS DOUBLE) / n / 100.0, 6) AS ma20,
           round(sqrt((n * CAST(sxx AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      / (CAST(n AS DOUBLE) * n)) / 100.0, 6) AS sigma20,
           value * 100 > CAST(sx AS DOUBLE) / n
               + 2 * sqrt((n * CAST(sxx AS DOUBLE) -
                           CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          / (CAST(n AS DOUBLE) * n)) AS above_upper,
           value * 100 < CAST(sx AS DOUBLE) / n
               - 2 * sqrt((n * CAST(sxx AS DOUBLE) -
                           CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          / (CAST(n AS DOUBLE) * n)) AS below_lower
    FROM f
    WHERE n >= 20
    ORDER BY event_type, event_id
    """,
)
def win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands per event type: trailing-20 moving average ±2σ
    with breach flags — the volatility-envelope monitor (anomaly
    detection on metered values, price channels). The rolling σ does
    NOT use the engines' windowed stddev (both may reassociate float
    sums over the frame — DuckDB's segment-tree window state vs
    Spark's running frame would diverge): instead the frame carries
    exact cents-scaled INTEGER sums (Σx, Σx²) and σ comes from the
    closed population form over those integers — identical doubles on
    both engines, flags that cannot flip. One shuffle (event_type),
    one sort, three frame aggregates sharing the window."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    f = ev.select(
        "event_type",
        "event_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(cents).over(w).alias("sx"),
        F.sum(cents * cents).over(w).alias("sxx"),
    ).filter(F.col("n") >= 20)
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    var_c2 = (F.col("n") * F.col("sxx").cast("double") - sxd * sxd) / (
        nd * F.col("n")
    )
    sigma_c = F.sqrt(var_c2)
    ma_c = sxd / F.col("n")
    return f.select(
        "event_type",
        "event_id",
        "value",
        F.round(ma_c / 100.0, 6).alias("ma20"),
        F.round(sigma_c / 100.0, 6).alias("sigma20"),
        (F.col("value") * 100 > ma_c + 2 * sigma_c).alias("above_upper"),
        (F.col("value") * 100 < ma_c - 2 * sigma_c).alias("below_lower"),
    ).orderBy("event_type", "event_id")


@register(
    "win_rolling_regression_slope",
    survey_row=33,
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               date_diff('day', DATE '1994-01-01',
                         CAST(o_orderdate AS DATE)) AS day_x,
               sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5)
                        AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    ),
    roll AS (
        SELECT priority, day_x,
               count(*) OVER w AS n,
               min(day_x) OVER w AS mx,
               sum(day_x) OVER w AS sx,
               sum(cents) OVER w AS sy,
               sum(day_x * cents) OVER w AS sxy,
               sum(day_x * day_x) OVER w AS sxx
        FROM daily
        WINDOW w AS (PARTITION BY priority ORDER BY day_x
                     ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    ),
    reb AS (
        SELECT priority, day_x, n,
               sx - n * mx AS sxp,
               sy,
               sxy - mx * sy AS sxyp,
               sxx - 2 * mx * sx + n * mx * mx AS sxxp
        FROM roll
    )
    SELECT priority, day_x, n::BIGINT AS n_days,
           round((n * sxyp - sxp * sy) * 1.0
                 / nullif(n * sxxp - sxp * sxp, 0) / 100.0, 4)
               AS slope_dollars_per_day
    FROM reb
    ORDER BY priority, day_x
    """,
)
def win_rolling_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING OLS TREND — per priority class, the 30-day least-squares
    slope of daily revenue (the drift detector behind "is this series
    trending or just noisy", sharper than a moving average because it
    has units: cents/day). All four sufficient statistics (Σx, Σy, Σxy,
    Σx²) are EXACT int64 running-frame sums — x is days since 1994-01-01
    (≤ ~2.5e3), y is daily revenue in integer cents. The slope is then
    computed on PER-FRAME-REBASED x' = x − min(x over frame) (OLS slope
    is translation-invariant in x), derived algebraically from the raw
    frame sums: Σx' = Σx−n·m, Σx'y = Σxy−m·Σy, Σx'² = Σxx−2mΣx+nm². The
    un-rebased n·Σxy comes within ~2× of int64 max at sf1000-class daily
    revenue; after rebasing, x' < 30·gap so every product in (nΣx'y −
    Σx'Σy)/(nΣx'² − (Σx')²) carries ~2 extra orders of magnitude of
    headroom (largest intermediate is the raw Σxy ≈ 1.5e17 at sf1000,
    exact to sf ≈ 50000). Single-point frames yield NULL via nullif — no
    divide-by-zero on either engine.

    Scale shape: the aggregate-before-window discipline — rows
    collapse to the (priority, day) DOMAIN first (map-side combined;
    bounded by calendar length × priorities at ANY corpus size), so
    the rolling window sorts thousands of domain rows, never the
    fact table. The same plan at 100 TB moves only the daily frame
    through the window exchange."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1994-01-01").cast("date")
            ).alias("day_x"),
            F.floor(F.round("o_totalprice", 2) * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("priority", "day_x")
        .agg(F.sum("cents").alias("cents"))
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day_x")
        .rowsBetween(-29, Window.currentRow)
    )
    roll = daily.select(
        "priority",
        "day_x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.min("day_x").over(w).alias("mx"),
        F.sum("day_x").over(w).alias("sx"),
        F.sum("cents").over(w).alias("sy"),
        F.sum(F.col("day_x") * F.col("cents")).over(w).alias("sxy"),
        F.sum(F.col("day_x") * F.col("day_x")).over(w).alias("sxx"),
    )
    reb = roll.select(
        "priority",
        "day_x",
        "n",
        (F.col("sx") - F.col("n") * F.col("mx")).alias("sxp"),
        "sy",
        (F.col("sxy") - F.col("mx") * F.col("sy")).alias("sxyp"),
        (
            F.col("sxx")
            - 2 * F.col("mx") * F.col("sx")
            + F.col("n") * F.col("mx") * F.col("mx")
        ).alias("sxxp"),
    )
    denom = F.nullif(
        (
            F.col("n") * F.col("sxxp") - F.col("sxp") * F.col("sxp")
        ).cast("long"),
        F.lit(0),
    )
    return reb.select(
        "priority",
        "day_x",
        F.col("n").cast("long").alias("n_days"),
        # dollars/day at 4 dp: cents/day at 6 dp needed ~16 significant
        # digits at sf10 slope magnitudes, where the two engines'
        # round() of the SAME double diverge in the last digit -
        # presentation stays ~4 digits clear of the double precision
        # edge through sf1000
        F.round(
            (F.col("n") * F.col("sxyp") - F.col("sxp") * F.col("sy")) * 1.0
            / denom
            / 100.0,
            4,
        ).alias("slope_dollars_per_day"),
    ).orderBy("priority", "day_x")


@register(
    "win_holt_linear",
    survey_row=33,
    oracle="""
    WITH RECURSIVE monthly AS (
        SELECT o_orderpriority AS priority,
               (date_part('year', o_orderdate) - 1994) * 12
                   + date_part('month', o_orderdate) - 1 AS month_x,
               sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5)
                        AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    ),
    seq AS (
        SELECT priority, cents,
               row_number() OVER (PARTITION BY priority ORDER BY month_x)
                   AS rn
        FROM monthly
    ),
    step AS (
        SELECT priority, rn,
               CAST(cents AS DOUBLE) AS lvl, 0.0::DOUBLE AS trend
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT q.priority, q.rn,
               (CAST(q.cents AS DOUBLE) + s.lvl + s.trend) * 0.5 AS lvl,
               ((CAST(q.cents AS DOUBLE) + s.lvl + s.trend) * 0.5
                - s.lvl) * 0.25 + s.trend * 0.75 AS trend
        FROM step s JOIN seq q
          ON q.priority = s.priority AND q.rn = s.rn + 1
    )
    SELECT priority, max(rn)::BIGINT AS n_months,
           round(max_by(lvl, rn) / 100.0, 2) AS level_end,
           round(max_by(trend, rn) / 100.0, 2) AS trend_end,
           round(max_by(lvl + 3 * trend, rn) / 100.0, 2) AS forecast_3m
    FROM step GROUP BY priority ORDER BY priority
    """,
)
def win_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT'S LINEAR-TREND exponential smoothing (double exponential
    smoothing) over the monthly revenue series per priority — the
    capacity-planning forecaster one notch above `win_ewma_smoothed`
    (EWMA tracks level only and lags any trend; Holt carries an
    explicit trend state and extrapolates). Smoothing constants are
    DYADIC (α=1/2, β=1/4): every update is add + multiply-by-
    exactly-representable-scale in a FIXED left-to-right order, so
    both engines run the identical IEEE sequence — the
    stream_token_bucket discipline for operators with no closed form
    (the oracle single-steps the same recurrence by recursive CTE).
    Init: level←y₁, trend←0; output is the end state plus the
    3-month-ahead linear forecast level + 3·trend.

    Scale shape: aggregate-before-fold — the corpus collapses
    map-side to (priority, month) integer cents (calendar-bounded),
    and the sequential fold runs over ≤|months| elements per key via
    sort_array + F.aggregate, one exchange, keys parallel. The fold
    is inherently ordered — this is the documented pattern for
    sequential state at scale: bound the sequence domain first,
    never fold raw events."""
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
    series = monthly.groupBy("priority").agg(
        F.sort_array(F.collect_list(F.struct("month_x", "cents"))).alias(
            "ys"
        ),
        F.count(F.lit(1)).alias("n_months"),
    )
    init = F.struct(
        F.lit(None).cast("double").alias("lvl"),
        F.lit(0.0).alias("trend"),
    )
    fold = F.aggregate(
        F.col("ys"),
        init,
        lambda s, y: F.when(
            s["lvl"].isNull(),
            F.struct(
                y["cents"].cast("double").alias("lvl"),
                F.lit(0.0).alias("trend"),
            ),
        ).otherwise(
            F.struct(
                (
                    (y["cents"].cast("double") + s["lvl"] + s["trend"])
                    * 0.5
                ).alias("lvl"),
                (
                    (
                        (y["cents"].cast("double") + s["lvl"] + s["trend"])
                        * 0.5
                        - s["lvl"]
                    )
                    * 0.25
                    + s["trend"] * 0.75
                ).alias("trend"),
            )
        ),
    )
    return (
        series.select(
            "priority",
            F.col("n_months").cast("long").alias("n_months"),
            fold.alias("st"),
        )
        .select(
            "priority",
            "n_months",
            # dollars at 2 dp (was cents at 4 dp): sf10 levels reach
            # ~5e11 cents, where round(double, 4) sits past the
            # 16-sig-digit double edge and the engines' roundings
            # diverge in the last digit at sf10
            F.round(F.col("st.lvl") / 100.0, 2).alias("level_end"),
            F.round(F.col("st.trend") / 100.0, 2).alias("trend_end"),
            F.round((F.col("st.lvl") + 3 * F.col("st.trend")) / 100.0, 2)
            .alias("forecast_3m"),
        )
        .orderBy("priority")
    )


@register(
    "win_seasonal_decompose",
    survey_row=33,
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority AS priority,
               (date_part('year', o_orderdate) - 1994) * 12
                   + date_part('month', o_orderdate) - 1 AS month_x,
               date_part('month', o_orderdate) AS month_of_year,
               sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5)
                        AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2, 3
    ),
    trended AS (
        SELECT priority, month_x, month_of_year, cents,
               sum(cents) OVER w13 + sum(cents) OVER w11 AS trend_x24,
               count(*) OVER w13 AS n13
        FROM monthly
        WINDOW w13 AS (PARTITION BY priority ORDER BY month_x
                       ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING),
               w11 AS (PARTITION BY priority ORDER BY month_x
                       ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
    ),
    detr AS (
        SELECT priority, month_of_year,
               24 * cents - trend_x24 AS detrended_x24
        FROM trended WHERE n13 = 13
    )
    SELECT priority, month_of_year::BIGINT AS month_of_year,
           count(*)::BIGINT AS n_obs,
           round(sum(detrended_x24) / 24.0 / count(*), 4)
               AS seasonal_cents
    FROM detr GROUP BY priority, month_of_year
    ORDER BY priority, month_of_year
    """,
)
def win_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION (additive, period 12) — the
    seasonal-index table a demand planner reads: per priority class,
    the average deviation of each calendar month from the local
    trend. The even-period centered moving average (half weight on
    the ±6 endpoints) is computed WITHOUT fractional weights as
    trend×24 = frame13-sum + frame11-sum (endpoints count once,
    middles twice) — two exact int64 window sums, so the detrended
    series 24·y − trend×24 is EXACT integers; the only division is
    the final per-(priority, month-of-year) mean. Edge months whose
    13-row frame is incomplete drop (n13 < 13), identically on both
    engines — the textbook convention.

    Scale shape: aggregate-before-window (calendar-bounded monthly
    domain, map-side combined), two ROWS-frame sums over the same
    sort — Spark evaluates both frames in ONE Window pass over one
    exchange — then a 60-row rollup. Completes the forecasting
    family: seasonal-naive MAE, EWMA, Holt, and now the
    decomposition that justifies which of them to use."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            (
                (F.year("o_orderdate") - 1994) * 12
                + F.month("o_orderdate")
                - 1
            ).alias("month_x"),
            F.month("o_orderdate").alias("month_of_year"),
            F.floor(F.round("o_totalprice", 2) * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("priority", "month_x", "month_of_year")
        .agg(F.sum("cents").alias("cents"))
    )
    w13 = (
        Window.partitionBy("priority").orderBy("month_x").rowsBetween(-6, 6)
    )
    w11 = (
        Window.partitionBy("priority").orderBy("month_x").rowsBetween(-5, 5)
    )
    trended = monthly.select(
        "priority",
        "month_of_year",
        "cents",
        (F.sum("cents").over(w13) + F.sum("cents").over(w11)).alias(
            "trend_x24"
        ),
        F.count(F.lit(1)).over(w13).alias("n13"),
    )
    detr = trended.filter(F.col("n13") == 13).select(
        "priority",
        "month_of_year",
        (24 * F.col("cents") - F.col("trend_x24")).alias("detrended_x24"),
    )
    return (
        detr.groupBy("priority", "month_of_year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.round(
                F.sum("detrended_x24") / 24.0 / F.count(F.lit(1)), 4
            ).alias("seasonal_cents"),
        )
        .select(
            "priority",
            F.col("month_of_year").cast("long").alias("month_of_year"),
            "n_obs",
            "seasonal_cents",
        )
        .orderBy("priority", "month_of_year")
    )


@register(
    "win_rolling_distinct_users",
    survey_row=33,
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS day_x
        FROM events
    ),
    days AS (SELECT DISTINCT day_x FROM ud)
    SELECT d.day_x::BIGINT AS day_x,
           count(DISTINCT u.user_id)::BIGINT AS wau
    FROM days d JOIN ud u
        ON u.day_x BETWEEN d.day_x - 6 AND d.day_x
    GROUP BY d.day_x
    ORDER BY d.day_x
    """,
)
def win_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 7-DAY DISTINCT USERS (the WAU curve) — the metric SQL
    windows cannot express (COUNT(DISTINCT) OVER a frame is illegal
    in both engines) and the naive day×activity range join computes
    quadratically. The scale-correct form is INTERVAL COVERAGE: a
    user active on day d covers [d, d+6]; merge each user's
    overlapping coverage intervals (gap ≤ 6 ⇒ same island — the
    win_interval_union_coverage discipline), emit +1/−1 boundary
    deltas, and prefix-sum them over the day domain — WAU(d) is the
    number of merged intervals containing d. Everything is integer
    day arithmetic; the oracle is the INDEPENDENT naive range-join
    formulation, so agreement cross-checks the sweep-line algebra
    itself, not a shared shape.

    Scale: distinct (user, day) collapses map-side; interval merge
    is a per-user window over that collapsed frame (parallel by
    user); boundaries aggregate to ≤2 rows per island; the final
    prefix sum runs over the CALENDAR domain. No day×user fan-out
    ever exists — at 100 TB the widest frame is distinct user-days."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("day_x"),
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("day_x")
    grp = ud.select(
        "user_id",
        "day_x",
        F.sum(
            F.when(
                F.col("day_x") > F.lag("day_x").over(wu) + 6, 1
            ).otherwise(0)
        )
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    islands = grp.groupBy("user_id", "island").agg(
        F.min("day_x").alias("start"),
        (F.max("day_x") + 7).alias("stop"),  # exclusive coverage end
    )
    deltas = (
        islands.select(F.col("start").alias("day_x"), F.lit(1).alias("d"))
        .unionAll(
            islands.select(F.col("stop").alias("day_x"), F.lit(-1).alias("d"))
        )
        .groupBy("day_x")
        .agg(F.sum("d").alias("delta"))
    )
    days = ud.select("day_x").distinct()
    merged = days.select("day_x", F.lit(0).alias("delta")).unionAll(
        deltas.select("day_x", "delta")
    )
    run = Window.orderBy("day_x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    covered = (
        merged.groupBy("day_x")
        .agg(F.sum("delta").alias("delta"))
        .select("day_x", F.sum("delta").over(run).alias("wau"))
    )
    return (
        covered.join(days, "day_x")
        .select(
            F.col("day_x").cast("long").alias("day_x"),
            F.col("wau").cast("long").alias("wau"),
        )
        .orderBy("day_x")
    )
