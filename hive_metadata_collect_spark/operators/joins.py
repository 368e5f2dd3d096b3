"""Join operators — SURVEY.md §2.3 (#8–18).

Scale notes (the part that matters at 100 TB):
- Equi-joins shuffle both sides on the key unless one side is small →
  AQE converts to broadcast-hash at runtime from observed stats; #15
  pins the hint explicitly for the always-small dimension case.
- The star join (#9) joins facts against dims that are KB-sized at any
  scale (region/nation) — those broadcast, so lineitem/orders only
  shuffle once on the fact-fact key.
- Skewed fact keys are handled by AQE skew-join splitting
  (session.py); at known-pathological skew, salt the key.
- The interval join (#17) keeps an equi key (user_id) so Spark plans a
  shuffled hash/sort-merge join with a range residual instead of a
  broadcast-nested-loop over the cross product.
- The as-of join (#18) deliberately avoids join+argmax: it is a single
  shuffle on user_id + one window sort — the scalable idiom for
  "latest prior event" at billions of events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_metadata_collect_spark.operators.numerics import cents
from hive_metadata_collect_spark.plans.explain import plan_size_bytes
from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.session import (
    build_dir,
    fixture_tag,
    scoped_conf,
)
from hive_metadata_collect_spark.sources.fixtures import load_table

# Gate threshold for data-derived broadcast candidates: well under the
# 10 MB autoBroadcastJoinThreshold so only frames Catalyst is *sure*
# are small get the static hint; everything else is left to AQE's
# runtime-stat conversion.
_BROADCAST_GATE_BYTES = 8 << 20

#: join_multiway_star middle band: broadcast the JOINED dim (a
#: narrower subset of filtered orders) while plan-time o_est is under
#: this. 256 MB of 2-col filtered-orders estimate ⇒ an actual dim of
#: a few tens of MB in-memory — comfortably inside an executor heap;
#: past it the fact-shuffle SHJ plan is the honest one.
_DIM_BCAST_GATE_BYTES = 256 << 20


def _region_nations(
    spark: SparkSession, sf_dir: str, region_name: str
) -> list[tuple[int, str]]:
    """(n_nationkey, n_name) pairs for one region, read on the driver.

    nation and region are SCHEMA-bounded dims (25 and 5 rows at any
    TPC-H scale factor), so this driver-side collect is O(1) regardless
    of data scale — the same bounded-collect class as the PQ codebook
    sample. Resolving the two dim hops driver-side (literal isin filter
    + literal key→name map instead of two broadcast joins) removes two
    serial broadcast-build job waves from every star query: locally
    that is ~2 stage latencies, and on a real cluster it removes two
    barrier round-trips before the fact scan can start. Each build
    reads the dims again: no value is kept beyond the build."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region_name)
    return [
        (row["n_nationkey"], row["n_name"])
        for row in n.join(r, n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
        .collect()
    ]


def _stats_gated_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast-hint `df` only if Catalyst's plan-time size estimate
    fits under the gate.

    An unconditional hint on a fact-derived frame is an OOM risk at
    scale (the hint overrides all size checks); no hint at all makes
    AQE materialize the frame's query stage before it can convert the
    join, an extra serial barrier. The gate gives the best of both:
    statically planned broadcast when the estimate (file sizes ×
    filter selectivity — the same stats autoBroadcastJoinThreshold
    uses) says it's safely small, AQE's accurate runtime decision
    otherwise."""
    small = plan_size_bytes(df) < _BROADCAST_GATE_BYTES
    return F.broadcast(df) if small else df


@register(
    "join_inner_equi",
    survey_row=8,
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain inner equi-join fact→dim (strategy left to Catalyst/AQE)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_multiway_star",
    survey_row=9,
    oracle="""
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                          (CAST(1 AS DECIMAL(5,4)) -
                           CAST(l_discount AS DECIMAL(5,4)))), 2)
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-table star join + revenue agg per nation.

    Topology: lineitem probes TWO INDEPENDENT broadcast sides —
    date-filtered orders (orderkey, custkey) and ASIA customers
    (custkey, n_name) — then partial-aggregates, all in one
    whole-stage-codegen span. Because neither broadcast depends on the
    other, Spark builds them CONCURRENTLY (broadcast exchanges
    materialize on separate threads), so the serial depth is
    build-waves(1) → fact stage → final agg: three waves, versus the
    dims-first chain (cust_asia → o_asia → fact) whose two dependent
    broadcasts cost an extra serial barrier per hop — measured 30%
    faster locally and one fewer cluster round-trip at any scale.

    Both broadcast candidates are fact/dim-derived and scale with the
    data, so the TOPOLOGY ITSELF is gated on Catalyst's plan-time size
    estimate: under the gate, the concurrent-broadcast probe-both form
    above; past it, a DIMS-FIRST restructure — orders ⋈ customers first,
    the fact joins once with SHUFFLE_HASH hints — because probe-both
    without broadcasts is two fact-wide SortMergeJoins (measured 13.2×
    DuckDB at sf10; the restructure is 3.57 → 2.13 s, rows identical).
    The two schema-bounded dims (nation 25 rows, region 5) are resolved
    driver-side into an isin filter + literal map (_region_nations) —
    their values are constants of the catalog, not data, so no broadcast
    wave is spent on them and the ASIA filter pushes down into the
    customer parquet scan.

    Revenue accumulates in exact DECIMAL(18,4) on both engines (like
    join_agg_pushdown and agg_decimal_money): a double sum over a ~3.9e9
    accumulation at sf1 diverged by one ULP in the 2nd decimal between
    engines; decimal addition is associative, so the gate is
    scale-stable at any accumulation length. Cast back to DOUBLE after
    the final round so the output schema is unchanged.

    Bucketing measured as no lever: in the middle-band broadcast
    topology the fact NEVER shuffles, so a bucketed lineitem layout (the
    join_bucketed_colocated lever) has no exchange left to remove — the
    residual vs DuckDB is the scan itself. One idle sf10 session: the
    bare 3-column scan+agg floor (sum over l_extendedprice/l_discount
    with NO join) measures 1.43–1.49 s while the FULL star join runs
    1.29–1.58 s — the join and probe are free against the scan; and 0.45
    s of that floor was the per-row F.round BigDecimal in the cents
    conversion, which numerics.cents removes (kernel 0.72 → 0.27 s).
    Bucketing is therefore recorded as the measured dead end for THIS
    topology; it remains the right lever when the dim outgrows
    _DIM_BCAST_GATE_BYTES and the SHJ branch's fact exchange returns."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer")
    pairs = _region_nations(spark, sf_dir, "ASIA")
    name_of = F.create_map(*[F.lit(x) for kv in pairs for x in kv])
    cust_asia = c.filter(
        F.col("c_nationkey").isin([k for k, _ in pairs])
    ).select("c_custkey", name_of[F.col("c_nationkey")].alias("n_name"))
    o_est = plan_size_bytes(o)
    if o_est < _BROADCAST_GATE_BYTES:
        # small-scale topology: both dims broadcast CONCURRENTLY and
        # lineitem probes them in one codegen span (three serial waves)
        joined = li.join(
            F.broadcast(o), li.l_orderkey == o.o_orderkey
        ).join(
            _stats_gated_broadcast(cust_asia),
            F.col("o_custkey") == cust_asia.c_custkey,
        )
    else:
        # scale topology: past the broadcast gate the probe-both form
        # degrades to TWO fact-wide SortMergeJoins (lineitem
        # sorted+shuffled on orderkey, the ~30%-of-fact intermediate
        # re-shuffled on custkey — 13.2x DuckDB at sf10). Dims-first
        # instead: orders ⋈ customers FIRST (both orders-of-magnitude
        # smaller than the fact), so lineitem joins exactly once, on one
        # key, and SHUFFLE_HASH hints skip the O(n log n) sorts SMJ
        # would pay on every side (per-partition build side is the
        # joined dim — tiny). The serial-depth argument for probe-both
        # only holds while both sides BROADCAST; measured 3.57 → 2.13 s
        # at sf10, rows identical. At 100 TB this is the same story: one
        # fact shuffle on the join key, never two.
        #
        # Measured: within the dims-first restructure there is a MIDDLE
        # band where the joined dim (orderkey → n_name, a
        # filtered-orders subset with narrower rows, so always ≤ ~0.35 ×
        # o_est bytes) still fits a broadcast even though raw filtered
        # orders do not: broadcast it and the FACT NEVER SHUFFLES AT ALL
        # — one codegen span scans lineitem, probes the dim map, and
        # partial-aggregates per nation (measured sf10: 3.27 s SHJ →
        # 1.41 s broadcast-dim in one session). Past
        # _DIM_BCAST_GATE_BYTES of o_est the SHJ form remains (at 100 TB
        # the dim is ~1e10 rows — the one fact shuffle on one key is the
        # honest plan). An eager per-orderkey pre-agg below the join
        # (join_agg_pushdown's rewrite) was ALSO measured here and
        # REJECTED: 3.39 s vs 2.63 s baseline — with only ~6 % of
        # orderkeys surviving the date×region dims, the pre-agg pays a
        # 15M-group hash agg for keys the join then discards (eager agg
        # wins when the join keeps most keys, loses under selective
        # dims).
        dim = o.join(
            cust_asia.hint("shuffle_hash"),
            F.col("o_custkey") == cust_asia.c_custkey,
        ).select("o_orderkey", "n_name")
        if o_est < _DIM_BCAST_GATE_BYTES:
            joined = li.join(F.broadcast(dim), li.l_orderkey == dim.o_orderkey)
        else:
            joined = li.join(
                dim.hint("shuffle_hash"), li.l_orderkey == dim.o_orderkey
            )
    # revenue merge: int64 1e-4$-unit partials per (nation, task) +
    # DECIMAL merge (the agg_pricing_summary pattern — task partials
    # are rows-per-task-bounded, only the |nations|-row merge is
    # decimal; the integer units are the same rationals the oracle's
    # DECIMAL(18,4) products produce, so hashes are unchanged)
    rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    part = joined.groupBy(
        "n_name", F.spark_partition_id().alias("_pid")
    ).agg(F.sum(rev_e4).alias("s_e4"), F.count(F.lit(1)).alias("n"))
    return part.groupBy("n_name").agg(
        F.round(
            F.sum(
                F.col("s_e4").cast("decimal(20,0)")
                * F.lit("0.0001").cast("decimal(4,4)")
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.sum("n").alias("n_items"),
    )


@register(
    "join_left_outer",
    survey_row=10,
    oracle="""
    SELECT c_custkey, c_name,
           coalesce(oa.n_orders, 0) AS n_orders,
           coalesce(oa.sum_spent, 0.0) AS sum_spent
    FROM customer
    LEFT JOIN (
        SELECT o_custkey, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_spent
        FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey
    ) oa ON c_custkey = oa.o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customers + per-customer agg of their big orders; nulls →
    0 for customers with none (aggregate-then-join keeps the outer
    side unexploded)."""
    c = load_table(spark, sf_dir, "customer")
    oa = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_spent"),
        )
    )
    return c.join(oa, c.c_custkey == oa.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("sum_spent", F.lit(0.0)).alias("sum_spent"),
    )


@register(
    "join_full_outer",
    survey_row=11,
    oracle="""
    SELECT coalesce(a.k, b.k) AS custkey,
           coalesce(a.n_cust, 0) AS n_cust,
           coalesce(b.n_orders, 0) AS n_orders
    FROM (SELECT c_custkey AS k, count(*) AS n_cust
          FROM customer WHERE c_custkey < 100 GROUP BY c_custkey) a
    FULL OUTER JOIN
         (SELECT o_custkey AS k, count(*) AS n_orders
          FROM orders WHERE o_custkey >= 50 GROUP BY o_custkey) b
    ON a.k = b.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two overlapping key slices (left-only, both,
    right-only regions all non-empty)."""
    a = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .groupBy(F.col("c_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    b = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") >= 50)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return a.join(b, a.k == b.k, "full").select(
        F.coalesce(a.k, b.k).alias("custkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@register(
    "join_left_semi",
    survey_row=12,
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one very large order (semi join —
    never duplicates the left side; Catalyst rewrites IN-subqueries to
    exactly this)."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_left_anti",
    survey_row=13,
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 450000
    )
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO very large order (anti join = NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    survey_row=14,
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two tiny dims (5 × 25). Only ever
    valid for bounded inputs — at scale cross joins are a bug unless
    one side is O(1) rows."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_broadcast_hint",
    survey_row=15,
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_acctbal
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#8 with an explicit broadcast hint on the dimension side: the
    fact table never shuffles (map-side hash join on every partition)."""
    o = load_table(spark, sf_dir, "orders")
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_acctbal"
    )


@register(
    "join_non_equi",
    survey_row=16,
    oracle="""
    SELECT o_orderkey, c_custkey, o_totalprice, c_acctbal
    FROM customer JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > c_acctbal * 20
    """,
)
def join_non_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi key + non-equi residual. The equi component
    keeps this a hash/sort-merge join (residual evaluated post-match)
    rather than a nested-loop cross product."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > c.c_acctbal * 20)
    return c.join(o, cond, "inner").select(
        "o_orderkey", "c_custkey", "o_totalprice", "c_acctbal"
    )


@register(
    "join_range_interval",
    survey_row=17,
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           count(c.event_id) AS n_clicks_6h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts
     AND c.ts < p.ts + INTERVAL 6 HOUR
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks within 6h after each purchase, per user.
    user_id equi key bounds the match set; the time range is a
    residual predicate. At 100 TB, additionally bucket both sides by
    time (e.g. date) and join on (user_id, date±1) to cap partition
    fan-out."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (p.user_id == c.c_user_id)
        & (c.c_ts >= p.ts)
        & (c.c_ts < p.ts + F.expr("INTERVAL 6 HOURS"))
    )
    return (
        p.join(c, cond, "left")
        .groupBy("event_id", "user_id", "ts")
        .agg(F.count("c_event_id").alias("n_clicks_6h"))
    )


@register(
    "join_asof",
    survey_row=18,
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(v.ts) FROM events v
            WHERE v.user_id = e.user_id
              AND v.event_type = 'view'
              AND v.ts <= e.ts) AS prior_view_ts
    FROM events e
    WHERE e.event_type = 'click'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the latest prior-or-equal
    'view' timestamp of the same user.

    Spark has no native ASOF JOIN; the scalable idiom is union both
    event sets, sort once per user (ts asc, views before clicks on
    ties), and carry the last seen view-ts forward with
    last(ignoreNulls) — one shuffle + one sort, no join, no argmax.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
        # views sort before clicks at equal ts so ts-equal views count
        # as "prior-or-equal" (ASOF >= semantics)
        F.when(F.col("event_type") == "view", F.lit(0)).otherwise(F.lit(1)).alias(
            "type_order"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("type_order").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("prior_view_ts", F.last("view_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "prior_view_ts")
    )



def _rev_e4(li: DataFrame) -> DataFrame:
    """Project lineitem down to (l_orderkey, rev_e4) BEFORE the join:
    the revenue term is a per-row function of the fact side only, so
    computing it pre-exchange narrows the big shuffle from
    (key, extendedprice, discount) 24 B/row to (key, rev_e4) 16 B/row
    — measured at sf10 the skew-twin join drops 3.86 → 2.8 s (the
    pre-agg-below-join rewrite measured 3.2–4.5 s and a 15M-row
    dim broadcast 8.7–9.4 s, both recorded dead ends)."""
    rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    return li.select("l_orderkey", rev_e4.alias("rev_e4"))


def _money_rollup_e4(joined: DataFrame, key: str) -> DataFrame:
    """Revenue rollup per `key` in int64 1e-4$-unit partials with a
    DECIMAL merge (the agg_pricing_summary pattern): per-(key, task)
    int64 sums are rows-per-task-bounded (max ~1.1e9/row × <7e6
    rows/task — 1000× int64 headroom), only the |keys|-row merge runs
    decimal, and the integer units are the same rationals the oracle's
    DECIMAL(12,2) products produce, so hashes are unchanged. Shared by
    the skew-join twins (fact side pre-narrowed to a `rev_e4` column by
    `_rev_e4`); join_multiway_star inlines the same shape with its own
    key. Cents conversion via numerics.cents (multiply-add + truncating
    cast) — F.round's per-row BigDecimal was 0.45 s of a 0.72 s 60M-row
    agg at sf10."""
    part = joined.groupBy(key, F.spark_partition_id().alias("_pid")).agg(
        F.sum("rev_e4").alias("s_e4"), F.count(F.lit(1)).alias("n")
    )
    return part.groupBy(key).agg(
        F.round(
            F.sum(
                F.col("s_e4").cast("decimal(20,0)")
                * F.lit("0.0001").cast("decimal(4,4)")
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.sum("n").alias("n_items"),
    )


# Salt fan-out: sized to the hot-key factor you need to absorb (each
# salt bucket carries ~1/N of a hot key). Dim-side replication cost is
# linear in N, so don't over-salt.
# Salt factor: dim replication (and its shuffle volume) scales
# linearly with N, so N should match the observed skew ratio, not
# exceed it — the fixture's key skew is mild, and N=2 already splits
# any hot key across two reducers (re-measured: same plan shape,
# ~15% less wall than N=4 at sf0.1). At a real 100 TB skew event,
# raise N to the hot-key multiplicity or let AQE's skew-join split
# handle the residue.
_SALT_N = 2


@register(
    "join_skew_salted",
    survey_row=8,
    oracle="""
    SELECT o_orderpriority,
           round(sum(l_extendedprice::DECIMAL(12,2)
                     * (1 - l_discount::DECIMAL(12,2))), 2)::DOUBLE
               AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join — the manual fix for pathological key skew
    that AQE's splitter can't fully absorb.

    Fact side: salt = pmod(l_linenumber, N) (deterministic, no rand()
    — reruns must plan identically). Dim side: replicated N× via a
    tiny explode, so (key, salt) partitions carry ≤ 1/N of any hot
    key. The join condition gains the salt column; results are
    provably identical to the unsalted join, which is exactly what
    the oracle checks.

    The shuffle_hash hint keeps this a shuffled join: salting only
    does anything when the key is the shuffle partitioning (AQE would
    otherwise broadcast the replicated dim here, which both defeats
    the demonstration and measured ~2x slower than SHJ at sf0.1 —
    broadcast-building N x |orders| hashed rows costs more than
    shuffling them).
    """
    # fact side pre-narrowed to (key, rev_e4, salt) — see _rev_e4
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias("rev_e4"),
        F.pmod(F.col("l_linenumber"), F.lit(_SALT_N)).alias("salt"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_N - 1))))
        .hint("shuffle_hash")
    )
    joined = li.join(
        orders,
        (li["l_orderkey"] == orders["o_orderkey"]) & (li["salt"] == orders["salt"]),
    )
    # int64-cents partials + DECIMAL merge — see _money_rollup_e4
    return _money_rollup_e4(joined, "o_orderpriority")


@register(
    "join_skew_unsalted",
    survey_row=8,
    oracle="""
    SELECT o_orderpriority,
           round(sum(l_extendedprice::DECIMAL(12,2)
                     * (1 - l_discount::DECIMAL(12,2))), 2)::DOUBLE
               AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_skew_unsalted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unsalted twin of `join_skew_salted`: the SAME query with no
    salt and no dim replication, so the salted demo's replication +
    wider-key overhead is measured against the best plain shuffled join.
    The plain form carries the same `shuffle_hash` hint as the salted
    demo — AQE's default pick here is sort-merge, and the hinted
    shuffled-hash form measured 22–40 % faster across sessions
    (in-session: sf0.1 0.56 → 0.37 s, sf1 1.04 → 0.81 s). At sf1 the
    other levers measured no better: a dim broadcast 1.13 s, shuffle
    compression off worse, 64 shuffle partitions worse, and
    union-vs-explode dim replication a wash. Hinting both twins also
    makes the pair a controlled experiment: identical join algorithm, so
    q_salted_join − q_unsalted_join is the cost of salting itself, not
    SMJ-vs-SHJ. Both twins pre-narrow the fact side to (l_orderkey,
    rev_e4) before the exchange (`_rev_e4`) — sf10 3.86 → 2.8 s; the
    pre-agg-below-join rewrite (groupBy(l_orderkey) then join 15M×15M)
    measured 3.2–4.5 s, a 15M-row dim broadcast 8.7–9.4 s, and a
    32-partition exchange no better than 16 — all recorded dead ends.
    Sort-merge remains the right default at 100 TB when neither side's
    per-partition hash table fits in memory — the hint encodes measured
    local-mode knowledge, not a universal rule. Setting
    `preferSortMergeJoin=false` session-wide instead wins 28 % on the
    isolated big join but is flat-to-worse suite-wide, a dead end. Two
    more levers measured: (1) explicit sort-merge at sf10 measured 3.70
    s vs this form's 3.23–3.51 s in the same idle session
    (collect()-identical) — SHJ stays the winner; (2) AQE skew-split
    cannot fire here by construction — the whole sf10 fact exchange is
    ~1 GB across 16 partitions (~60 MB each), far under the 256 MB
    skewedPartitionThresholdInBytes, and l_orderkey has no hot key
    (TPC-H uniform); the salted twin IS the repo's skew demonstration.
    The residual vs DuckDB (~3.2 s vs ~0.9 s at sf10) is genuinely the
    cost of shuffling 60M narrow rows through a local-mode pull-based
    shuffle vs a single-process in-memory hash join — accepted with this
    dead-end table (BASELINE.md, acceptance rows). Results are provably
    identical — both declare the same oracle, and tests/test_plans.py
    asserts salted == unsalted row sets."""
    li = _rev_e4(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = li.join(
        orders.hint("shuffle_hash"),
        li["l_orderkey"] == orders["o_orderkey"],
    )
    # int64-cents partials + DECIMAL merge — see _money_rollup_e4
    return _money_rollup_e4(joined, "o_orderpriority")


@register(
    "join_bucketed_colocated",
    survey_row=8,
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, o_orderstatus
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written `bucketBy(8, key)`
    + sorted, then joined — Spark matches the bucket spec to the join
    key and plans a sort-merge join with NO shuffle exchange on either
    side (tests/test_plans.py asserts it). This is the 100 TB pattern
    for repeated fact-fact joins: pay the partitioning once at write
    time, reuse it on every read."""
    import os

    scratch = build_dir(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderstatus")
    # Table names carry the fixture dir's tag so builds at different
    # sf_dirs never replace each other's catalog entries; each build
    # writes its buckets into a fresh dir, so an earlier frame keeps
    # its files.
    sf_tag = fixture_tag(sf_dir)
    for name, df, key in (
        (f"bk_lineitem_{sf_tag}", li, "l_orderkey"),
        (f"bk_orders_{sf_tag}", orders, "o_orderkey"),
    ):
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(scratch, name))
            .format("parquet")
            .saveAsTable(name)
        )
    return spark.table(f"bk_lineitem_{sf_tag}").join(
        spark.table(f"bk_orders_{sf_tag}"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("l_orderkey", "l_linenumber", "l_quantity", "o_orderstatus")


@register(
    "join_existence_flag",
    survey_row=10,
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 300000) AS has_big_order
    FROM customer c
    """,
)
def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-flag (mark) join: every customer row kept, plus a
    boolean for having a qualifying order — the left-join+isNotNull
    idiom a DataFrame engine uses where SQL would put EXISTS in the
    SELECT list. Distinct-before-join keeps the probe side one row
    per key, so the flag join never duplicates customers."""
    c = load_table(spark, sf_dir, "customer")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
        .distinct()
    )
    return c.join(big, c["c_custkey"] == big["o_custkey"], "left").select(
        "c_custkey",
        "c_mktsegment",
        F.col("o_custkey").isNotNull().alias("has_big_order"),
    )


@register(
    "join_null_safe_eq",
    survey_row=8,
    oracle="""
    WITH c AS (
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        FROM customer
    ),
    d AS (
        SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'UNSEGMENTED')
                   AS seg_label
        FROM customer
    )
    SELECT d.seg_label, count(*) AS n_customers
    FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.seg_label
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of silently dropping, the semantics
    dimension-conforming pipelines need when "unknown" is itself a
    valid bucket. Spark still treats `eqNullSafe` as an equi-join key,
    so the plan is a normal broadcast/sort-merge hash join — no
    degeneration to a nested-loop non-equi join, which is what makes
    this safe at 100 TB (the naive `a = b OR (a IS NULL AND b IS
    NULL)` disjunction would NOT be recognized as an equi-join).

    The fixture tables carry no NULLs, so both sides derive one with
    nullif(): BUILDING customers become the NULL bucket and the tiny
    distinct-segment dim (broadcast by AQE) carries a NULL row that
    must pair with them.
    """
    c = load_table(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    left = c.select("c_custkey", seg.alias("seg"))
    dim = (
        c.select(seg.alias("seg"))
        .distinct()
        .select(
            "seg",
            F.coalesce(F.col("seg"), F.lit("UNSEGMENTED")).alias("seg_label"),
        )
    )
    return (
        left.join(dim, left["seg"].eqNullSafe(dim["seg"]))
        .groupBy("seg_label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_range_bucketed",
    survey_row=17,
    oracle="""
    WITH p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.ts, count(c.event_id) AS n_clicks_1h
    FROM p LEFT JOIN c
      ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
    GROUP BY p.event_id, p.ts
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure time-range join (NO equi key: every click within 1 h after
    each purchase, across all users) — the case Spark degenerates to a
    broadcast-nested-loop / cartesian filter. The 100 TB fix
    demonstrated here: quantize time into buckets the size of the
    range window, explode each probe row to its two candidate buckets
    (a 1-hour window spans at most two 1-hour buckets), equi-join ON
    BUCKET, then refine with the exact range predicate. Work drops
    from |P|×|C| to Σ per-bucket products, it shuffles and
    parallelizes like any equi-join (test_plans.py asserts no
    nested-loop node), and each (purchase, click) pair meets in
    exactly one bucket — the click's own — so no dedup step is
    needed. The final left join restores purchases with zero matches.
    join_range_interval shows the equi+residual form; this is the
    form for when no natural equi key exists."""
    ev = load_table(spark, sf_dir, "events")
    bucket_us = 3_600_000_000  # bucket width == range width (1 h)
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"), F.col("ts").alias("c_ts")
    )
    p_bkt = F.floor(F.unix_micros("ts") / bucket_us)
    p2 = p.withColumn("bkt", F.explode(F.array(p_bkt, p_bkt + 1)))
    c2 = c.withColumn("bkt", F.floor(F.unix_micros("c_ts") / bucket_us))
    matches = (
        p2.join(c2, "bkt")
        .filter(
            (F.col("c_ts") >= F.col("ts"))
            & (F.unix_micros("c_ts") < F.unix_micros("ts") + bucket_us)
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return p.join(matches, "event_id", "left").select(
        "event_id",
        "ts",
        F.coalesce("n", F.lit(0)).alias("n_clicks_1h"),
    )


@register(
    "join_agg_pushdown",
    survey_row=8,
    oracle="""
    SELECT o_orderpriority,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                          (CAST(1 AS DECIMAL(5,4)) -
                           CAST(l_discount AS DECIMAL(5,4)))), 2)
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAGER AGGREGATION — the join-above-aggregate rewrite Catalyst
    does NOT apply automatically: the revenue/count aggregate is
    partially evaluated below the join, keyed on the join key
    (l_orderkey), collapsing the 4-rows-per-order fact to one row per
    key BEFORE the join probes orders; the final per-priority rollup
    then sums pre-aggregated partials. Revenue is computed on exact
    DECIMALs: the two-level sum reorders addition vs the
    one-level salted/unsalted twins, so a double formulation could
    flip the rounded last ULP at larger scale factors — decimal
    addition is associative, making the eager-agg rewrite provably
    hash-identical (SUM/COUNT decompose over the orderkey
    partition). Measured ~30 % faster
    than the naive join-then-aggregate at sf0.1 AND sf1 (the join
    carries |orders| rows instead of |lineitem|). At 100 TB this is
    the difference between shuffling the fact table and shuffling
    one row per key — the rewrite every hand-tuned warehouse query
    applies when the aggregate is decomposable and the join is on
    the pre-agg key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    pre = li.groupBy("l_orderkey").agg(
        F.sum(rev).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        pre.join(orders, pre["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.sum("n").alias("n_items"),
        )
    )


@register(
    "join_interval_overlap",
    survey_row=17,
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    ), sessions AS (
        SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
        FROM numbered GROUP BY user_id, session_id
    ), windows AS (
        SELECT * FROM (VALUES
            (0, TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-07 00:00:00'),
            (1, TIMESTAMP '2024-01-10 12:00:00', TIMESTAMP '2024-01-10 18:00:00'),
            (2, TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-16 00:00:00'),
            (3, TIMESTAMP '2024-01-25 06:00:00', TIMESTAMP '2024-01-26 06:00:00')
        ) w(win_id, w_start, w_end)
    )
    SELECT win_id, count(*)::BIGINT AS n_sessions,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM sessions s
    JOIN windows w ON s.s_start < w.w_end AND w.w_start < s.s_end
    GROUP BY win_id
    ORDER BY win_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join — both sides are intervals (user activity
    sessions × maintenance windows), the shape `join_range_interval`
    (point-in-interval) can't express: overlap(s, w) ⇔ s.start <
    w.end AND w.start < s.end (strict, so zero-length single-event
    sessions only match when strictly inside). Sessions come from the
    same 30-min gaps-and-islands used by the sessionization ops (one
    user_id shuffle shared by the lag and the cumsum); the window dim
    is tiny and BROADCAST, so the non-equi overlap predicate is a
    broadcast nested-loop over |windows| rows per session — never a
    cartesian between two big sides. At 100 TB with two LARGE interval
    sets, the scale path is interval bucketing (split each interval
    into fixed-width buckets, equi-join on bucket, dedup matches) —
    the `join_range_bucketed` pattern one shelf over."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        # MICROsecond gap compare (unix_micros, not a seconds cast —
        # truncation would split sessions the oracle's INTERVAL keeps)
        F.sum(
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                    > 30 * 60 * 1_000_000
                ),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    sessions = flagged.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    windows = spark.createDataFrame(
        [
            (0, "2024-01-05 00:00:00", "2024-01-07 00:00:00"),
            (1, "2024-01-10 12:00:00", "2024-01-10 18:00:00"),
            (2, "2024-01-15 00:00:00", "2024-01-16 00:00:00"),
            (3, "2024-01-25 06:00:00", "2024-01-26 06:00:00"),
        ],
        "win_id int, w_start string, w_end string",
    ).select(
        "win_id",
        F.col("w_start").cast("timestamp").alias("w_start"),
        F.col("w_end").cast("timestamp").alias("w_end"),
    )
    return (
        sessions.join(
            F.broadcast(windows),
            (F.col("s_start") < F.col("w_end"))
            & (F.col("w_start") < F.col("s_end")),
        )
        .groupBy("win_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("win_id")
    )


@register(
    "join_null_skew_split",
    survey_row=16,
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 < 3 THEN NULL
                    ELSE o_custkey END AS fk_custkey,
               o_totalprice
        FROM orders
    )
    SELECT coalesce(c.c_mktsegment, 'UNATTRIBUTED') AS segment,
           count(*)::BIGINT AS n_orders,
           round(sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5)
                          AS BIGINT)) / 100.0, 2) AS total_price
    FROM o LEFT JOIN customer c ON o.fk_custkey = c.c_custkey
    GROUP BY segment
    """,
)
def join_null_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-KEY SKEW SPLIT — the third skew pattern next to salting
    and AQE: a fact with a heavily-NULL foreign key (30 % of orders
    unattributed here) left-joins a dim. Naively every NULL-key row
    hashes to ONE reducer partition (nulls never match, but they
    still ride the shuffle together); the rewrite SPLITS the fact
    first — NULL rows bypass the join entirely (their dim columns are
    known NULL) and union back after. Join input shrinks 30 % and the
    null hot partition disappears; the result is provably identical
    to the plain left join, which is exactly what the oracle states.
    With a broadcast dim the naive plan is fine (no shuffle) — the
    split matters on the 100 TB big⋈big sort-merge path, so the demo
    forces the shuffle path with a merge hint on the non-null leg."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 < 3, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("fk_custkey"),
        "o_totalprice",
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    matched = (
        o.filter(F.col("fk_custkey").isNotNull())
        .join(c.hint("merge"), F.col("fk_custkey") == F.col("c_custkey"), "left")
        .select("o_totalprice", "c_mktsegment")
    )
    nulls = o.filter(F.col("fk_custkey").isNull()).select(
        "o_totalprice", F.lit(None).cast("string").alias("c_mktsegment")
    )
    return (
        matched.unionByName(nulls)
        .groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNATTRIBUTED")).alias(
                "segment"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
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
    "join_runtime_bloom_filter",
    survey_row=16,
    oracle="""
    SELECT l_linestatus,
           count(*)::BIGINT AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_linestatus
    """,
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME BLOOM-FILTER join — Catalyst's injected semi-join
    reduction: when a selective dim filter feeds a SHUFFLE join, the
    optimizer builds a bloom filter over the dim's join keys and
    pushes `might_contain` onto the FACT SCAN, so ~80 % of lineitem
    rows (non-urgent orders) drop before the shuffle instead of
    after the join. The default thresholds target cluster sizes
    (10 GB application-side scans), so the demo lowers them and
    disables broadcast for the statement — on a real 100 TB join
    both sides exceed the defaults and the rewrite fires as-is. The
    result is threshold-independent (bloom false positives only let
    extra rows reach the exact join), which is what the plain-join
    oracle states. Configs are restored after plan construction —
    the returned frame's QueryExecution is forced (and thereby
    cached) under the modified session first."""
    with scoped_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        li = load_table(spark, sf_dir, "lineitem")
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.round(
                    F.sum(
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ),
                    2,
                ).alias("revenue"),
            )
        )
        # Force THIS frame's QueryExecution now (lazy vals cache per
        # Dataset): analysis+optimization run under the bloom configs
        # and stay cached after they're restored; .count() would spawn
        # a separate plan and leave this one to re-optimize later.
        out._jdf.queryExecution().executedPlan()
        return out


@register(
    "join_temporal_dim",
    survey_row=17,
    oracle="""
    WITH dim AS (
        SELECT o_custkey, o_orderpriority AS cur_priority,
               o_orderdate AS valid_from,
               coalesce(lead(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey),
                   TIMESTAMP '2999-01-01') AS valid_to
        FROM orders
    ),
    fact AS (
        SELECT o.o_custkey AS f_custkey, l.l_shipdate,
               l.l_extendedprice, l.l_discount
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT cur_priority,
           count(*)::BIGINT AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM fact f
    JOIN dim d ON f.f_custkey = d.o_custkey
              AND f.l_shipdate >= d.valid_from
              AND f.l_shipdate < d.valid_to
    GROUP BY cur_priority
    """,
)
def join_temporal_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL DIMENSION join — fact rows joined to the dim version
    VALID AT the fact's timestamp (the SCD2 read path, as distinct
    from `cat_scd2_apply` which builds the versions): each customer's
    order history becomes a validity-interval timeline
    (valid_from = this order's date, valid_to = next order's date via
    lead — half-open, so interval edges never double-match), and every
    shipped line joins the priority that WAS current on its ship
    date. The join is equality-on-customer PLUS interval containment
    — Spark executes the equi part as the hash join key and the
    range as a post-join filter, so it never degenerates to a
    cartesian (plan shape shared with join_range_interval). At 100 TB
    the dim timeline is |entity-versions|-sized — orders of magnitude
    under the fact — and broadcast-eligible per AQE stats; if both
    sides are huge, bucket by entity THEN time (join_range_bucketed's
    pattern)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = o.select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderpriority").alias("cur_priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit("2999-01-01").cast("timestamp"),
        ).alias("valid_to"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    fact = li.join(
        o.select("o_orderkey", F.col("o_custkey").alias("f_custkey")),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        fact.join(
            dim,
            (F.col("f_custkey") == F.col("d_custkey"))
            & (F.col("l_shipdate") >= F.col("valid_from"))
            & (F.col("l_shipdate") < F.col("valid_to")),
        )
        .groupBy("cur_priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "join_asof_forward",
    survey_row=18,
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT min(m.ts) FROM events m
            WHERE m.user_id = e.user_id
              AND m.event_type = 'view'
              AND m.ts >= e.ts) AS next_view_ts
    FROM events e
    WHERE e.event_type = 'error'
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — `join_asof`'s time-reversed twin: each
    error matched to the EARLIEST same-or-later 'view' of the same
    user (time-to-recovery analysis: "when did the user next see a
    working page?"). Same no-join idiom, mirrored: one union'd sort
    per user, then the first upcoming view taken with
    first(ignoreNulls) over the currentRow→FOLLOWING frame. The tie
    order mirrors too: a simultaneous view must sort AFTER the error
    to land INSIDE its forward frame (the backward twin puts views
    BEFORE clicks for the same reason — the hypothesis fuzzer caught
    the unmirrored order returning NULL on ts ties). Unmatched errors
    keep NULL — the correlated-min oracle's empty subquery. One
    shuffle, one sort, zero joins at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "view")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
        # mirrored tie-break: equal-ts views sort AFTER errors so the
        # ASOF >= semantics include the simultaneous view in the
        # error's forward frame
        F.when(F.col("event_type") == "view", F.lit(1)).otherwise(
            F.lit(0)
        ).alias("type_order"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(), F.col("type_order").asc(), F.col("event_id").asc()
        )
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        tagged.withColumn(
            "next_view_ts", F.first("view_ts", ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts", "next_view_ts")
    )


@register(
    "join_spatial_nearest",
    survey_row=16,
    oracle="""
    WITH pts AS (
        SELECT c_custkey,
               ((c_custkey * 7919) % 18000) / 100.0 - 90.0  AS lat,
               ((c_custkey * 104729) % 36000) / 100.0 - 180.0 AS lon
        FROM customer
    ), sites AS (
        SELECT n_nationkey AS site_id,
               ((n_nationkey * 7919) % 18000) / 100.0 - 90.0  AS lat,
               ((n_nationkey * 104729) % 36000) / 100.0 - 180.0 AS lon
        FROM nation
    ), d AS (
        SELECT p.c_custkey, s.site_id,
               (p.lat - s.lat) * (p.lat - s.lat)
               + (p.lon - s.lon) * (p.lon - s.lon) AS d2
        FROM pts p CROSS JOIN sites s
    ), r AS (
        SELECT c_custkey, site_id, d2,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY d2, site_id) AS rn
        FROM d
    )
    SELECT c_custkey, site_id AS nearest_site,
           CAST(floor(d2 * 1e6 + 0.5) AS BIGINT) AS d2_micro
    FROM r WHERE rn = 1
    """,
)
def join_spatial_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearest-neighbor join: every point (customers, with
    deterministic integer-derived lat/lon — the fixture has no geo
    column) assigned to its closest site (nations as a 25-row site
    dim). Small-site case: broadcast the dim, evaluate all
    |points|×|sites| distances map-side, argmin via a lexicographic
    struct MIN — one narrow codegen stage, NO shuffle of the point
    set and no window sort (the oracle's row_number formulation is
    the slow twin). Ties break on site_id through the same struct.

    Distance is squared euclidean built from integer-derived values:
    +, −, ×, / are IEEE-exact so both engines agree bit-for-bit —
    haversine would hit libm (sin/cos differ across runtimes) and is
    deliberately avoided for the gate. The naive form (fan-out join
    then re-group) would shuffle the full point set back together;
    this form never shuffles points at all. Big-big scaling:
    grid-cell bucketing (geohash prefix join on cell + 8 neighbors)
    replaces the broadcast — noted, not needed at a 25-site dim."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pts = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0).alias(
            "lon"
        ),
    )
    # The whole site dim collapses to ONE array row, broadcast once;
    # argmin is then a per-point array fold — map-only, no fan-out
    # rows, no re-aggregation exchange. collect_list order is
    # nondeterministic but irrelevant: array_sort orders the struct
    # lexicographically by (d2, site_id), which IS the tie-break.
    sites_arr = n.select(
        F.col("n_nationkey").alias("site_id"),
        (((F.col("n_nationkey") * 7919) % 18000) / 100.0 - 90.0).alias(
            "s_lat"
        ),
        (((F.col("n_nationkey") * 104729) % 36000) / 100.0 - 180.0).alias(
            "s_lon"
        ),
    ).agg(
        F.collect_list(F.struct("site_id", "s_lat", "s_lon")).alias("sites")
    )
    best = F.element_at(
        F.array_sort(
            F.transform(
                "sites",
                lambda s: F.struct(
                    (
                        (F.col("lat") - s["s_lat"])
                        * (F.col("lat") - s["s_lat"])
                        + (F.col("lon") - s["s_lon"])
                        * (F.col("lon") - s["s_lon"])
                    ).alias("d2"),
                    s["site_id"].alias("site_id"),
                ),
            )
        ),
        1,
    )
    return (
        pts.join(F.broadcast(sites_arr))
        .withColumn("best", best)
        .select(
            "c_custkey",
            F.col("best.site_id").alias("nearest_site"),
            F.floor(F.col("best.d2") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("d2_micro"),
        )
    )


@register(
    "join_spatial_radius",
    survey_row=17,
    oracle="""
    WITH pts AS (
        SELECT c_custkey,
               ((c_custkey * 7919) % 18000) / 100.0 - 90.0  AS lat,
               ((c_custkey * 104729) % 36000) / 100.0 - 180.0 AS lon
        FROM customer
    ), sites AS (
        SELECT s_suppkey,
               ((s_suppkey * 7919) % 18000) / 100.0 - 90.0  AS lat,
               ((s_suppkey * 104729) % 36000) / 100.0 - 180.0 AS lon
        FROM supplier
    )
    SELECT p.c_custkey, s.s_suppkey,
           CAST(floor(((p.lat - s.lat) * (p.lat - s.lat)
                       + (p.lon - s.lon) * (p.lon - s.lon))
                      * 1e6 + 0.5) AS BIGINT) AS d2_micro
    FROM pts p, sites s
    WHERE (p.lat - s.lat) * (p.lat - s.lat)
          + (p.lon - s.lon) * (p.lon - s.lon) <= 25.0
    """,
)
def join_spatial_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial RADIUS join (both sides big, the case the broadcast
    nearest-neighbor twin can't cover): all (customer, supplier)
    point pairs within distance r = 5. Grid-cell bucketing at cell
    size = r: each left point replicates to its 3×3 cell
    neighborhood (a bounded 9× map-side explode), the join is a
    plain EQUI hash join on the cell key, and the exact d² ≤ r²
    predicate runs post-join. A pair in range differs by ≤ 1 cell
    per axis, so it is found in exactly one neighbor offset —
    no dedup pass needed; a pair further than one cell apart can
    never be in range — no misses. The oracle is the quadratic
    cross-filter; this plan never materializes it (plan-asserted:
    no CartesianProduct / NestedLoop). Skewed cells (urban-density
    hotspots) fall back to the same salting machinery as any skewed
    equi join."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    r = F.lit(5.0)

    def geo(df, key):
        return df.select(
            F.col(key),
            (((F.col(key) * 7919) % 18000) / 100.0 - 90.0).alias("lat"),
            (((F.col(key) * 104729) % 36000) / 100.0 - 180.0).alias("lon"),
        )

    pts = geo(c, "c_custkey").select(
        "*",
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dx"),
    ).select(
        "*",
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dy"),
    ).select(
        "c_custkey",
        "lat",
        "lon",
        (F.floor(F.col("lat") / r) + F.col("dx")).alias("cx"),
        (F.floor(F.col("lon") / r) + F.col("dy")).alias("cy"),
    )
    sites = geo(s, "s_suppkey").select(
        "s_suppkey",
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        F.floor(F.col("lat") / r).alias("cx"),
        F.floor(F.col("lon") / r).alias("cy"),
    )
    d2 = (F.col("lat") - F.col("s_lat")) * (
        F.col("lat") - F.col("s_lat")
    ) + (F.col("lon") - F.col("s_lon")) * (F.col("lon") - F.col("s_lon"))
    return (
        pts.join(sites, ["cx", "cy"])
        .filter(d2 <= r * r)
        .select(
            "c_custkey",
            "s_suppkey",
            F.floor(d2 * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
                "d2_micro"
            ),
        )
    )


@register(
    "join_asof_tolerance",
    survey_row=18,
    oracle="""
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN event_type = 'view' THEN ts END AS view_ts,
               CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS type_order
        FROM events WHERE event_type IN ('click', 'view')
    ), carried AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(view_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, type_order, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prior_view_ts
        FROM tagged
    )
    SELECT event_id, user_id, ts,
           CASE WHEN prior_view_ts >= ts - INTERVAL 30 MINUTE
                THEN prior_view_ts END AS matched_view_ts,
           (prior_view_ts IS NOT NULL
            AND prior_view_ts < ts - INTERVAL 30 MINUTE) AS stale
    FROM carried WHERE event_type = 'click'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE: a click only matches its latest
    prior view if that view is ≤ 30 minutes stale — the sensor/trade
    semantics (`merge_asof(tolerance=...)`) where an old quote must
    NOT silently price a new trade. Out-of-tolerance matches are
    surfaced as `stale = true` with a NULL match rather than
    dropped, so the miss accounting is part of the result.

    Completes the as-of family (backward #18, forward, tolerance):
    same no-join union-sort idiom — one user_id shuffle + one sort,
    the tolerance check is a free post-window filter, and the plan
    is identical to the unbounded twin's (the bound costs nothing
    at any scale)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
        F.when(F.col("event_type") == "view", F.lit(0))
        .otherwise(F.lit(1))
        .alias("type_order"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(), F.col("type_order").asc(), F.col("event_id").asc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_tol = F.col("prior_view_ts") >= F.col("ts") - F.expr(
        "INTERVAL 30 MINUTES"
    )
    return (
        tagged.withColumn(
            "prior_view_ts", F.last("view_ts", ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(in_tol, F.col("prior_view_ts")).alias("matched_view_ts"),
            (F.col("prior_view_ts").isNotNull() & ~in_tol).alias("stale"),
        )
    )


@register(
    "join_role_playing_dim",
    survey_row=9,
    oracle="""
    WITH date_dim AS (
        SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE)
                   AS d_day,
               isodow(CAST(date_trunc('day', o_orderdate) AS DATE))
                   AS d_dow,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS d_month
        FROM orders
    ),
    fact AS (
        SELECT l_orderkey, l_linenumber,
               CAST(date_trunc('day', o_orderdate) AS DATE) AS order_day,
               CAST(date_trunc('day', l_shipdate) AS DATE) AS ship_day
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT f.l_orderkey, f.l_linenumber,
           od.d_dow::BIGINT AS order_dow,
           sd.d_dow::BIGINT AS ship_dow,
           od.d_month = sd.d_month AS same_month
    FROM fact f
    JOIN date_dim od ON od.d_day = f.order_day
    JOIN date_dim sd ON sd.d_day = f.ship_day
    WHERE f.ship_day IS NOT NULL
      AND sd.d_day IS NOT NULL
    """,
)
def join_role_playing_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLE-PLAYING dimension — the star-schema idiom where ONE
    physical dimension joins a fact multiple times under different
    roles (here: a date dimension as order-date AND as ship-date;
    warehouses do this with date, time, airport, account dims daily):
    each role is an independent alias of the same broadcast frame,
    and the query reads attributes from both roles at once (weekday
    of ordering vs weekday of shipping, same-month flag). The
    classic failure is alias leakage — one role's filter or column
    silently resolving against the other — which the hash gate
    catches structurally because the two roles carry different
    values per row.

    The dim builds from the fact's own date domain (|days| rows) →
    both role joins BROADCAST; the fact streams through two
    broadcast hash joins in one stage, never shuffling. ship_day
    rows lacking a dim entry (ship dates beyond the order-date
    domain) are inner-join dropped on both sides — the semantics
    the WHERE spells out."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    date_dim = (
        o.select(F.col("o_orderdate").cast("date").alias("d_day"))
        .distinct()
        .select(
            "d_day",
            # Spark dayofweek is Sun=1..Sat=7; isodow is Mon=1..Sun=7
            (((F.dayofweek("d_day") + 5) % 7) + 1)
            .cast("long")
            .alias("d_dow"),
            F.trunc("d_day", "month").alias("d_month"),
        )
    )
    fact = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        F.col("o_orderdate").cast("date").alias("order_day"),
        F.col("l_shipdate").cast("date").alias("ship_day"),
    )
    od = date_dim.select(
        F.col("d_day").alias("od_day"),
        F.col("d_dow").alias("order_dow"),
        F.col("d_month").alias("od_month"),
    )
    sd = date_dim.select(
        F.col("d_day").alias("sd_day"),
        F.col("d_dow").alias("ship_dow"),
        F.col("d_month").alias("sd_month"),
    )
    return (
        fact.filter(F.col("ship_day").isNotNull())
        .join(F.broadcast(od), F.col("order_day") == F.col("od_day"))
        .join(F.broadcast(sd), F.col("ship_day") == F.col("sd_day"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "order_dow",
            "ship_dow",
            (F.col("od_month") == F.col("sd_month")).alias("same_month"),
        )
    )


@register(
    "join_or_condition_rewrite",
    survey_row=16,
    oracle="""
    SELECT o.o_orderkey, c.c_custkey,
           (o.o_custkey = c.c_custkey) AS matched_on_key,
           (o.o_orderkey % 1000 = c.c_custkey % 1000
            AND o.o_custkey <> c.c_custkey) AS matched_on_bucket_only
    FROM orders o JOIN customer c
      ON o.o_custkey = c.c_custkey
      OR o.o_orderkey % 1000 = c.c_custkey % 1000
    WHERE o.o_orderkey % 97 = 0
    """,
)
def join_or_condition_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-condition join DECOMPOSED — the optimizer rewrite engines
    don't do for you (a join on `a=x OR b=y` has no single hash
    key, so every engine falls back to nested-loop over the pair
    space; at fact×dim scale that's the difference between seconds
    and never): rewrite as the UNION of the two equi-joins, with
    the second branch ANTI-filtered by the first's predicate so
    rows matching both conditions aren't double-counted — the
    textbook disjunctive-join decomposition, made concrete. The
    match-provenance flags are part of the output, so the
    dedup-correctness of the rewrite is itself hash-gated against
    the oracle's naive OR join.

    Each branch is an ordinary broadcast/hash equi-join; the fact
    side streams twice (two scans beat one nested loop by orders
    of magnitude — and AQE reuses the exchange where plans allow).
    tests/test_plans.py asserts NO BroadcastNestedLoopJoin
    survives."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", "o_custkey")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    eq = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey",
        "c_custkey",
        F.lit(True).alias("matched_on_key"),
        F.lit(False).alias("matched_on_bucket_only"),
    )
    bucket = (
        o.join(
            c,
            (F.col("o_orderkey") % 1000 == F.col("c_custkey") % 1000)
            & (F.col("o_custkey") != F.col("c_custkey")),
        )
        .select(
            "o_orderkey",
            "c_custkey",
            F.lit(False).alias("matched_on_key"),
            F.lit(True).alias("matched_on_bucket_only"),
        )
    )
    return eq.unionAll(bucket)


@register(
    "join_asof_nearest",
    survey_row=18,
    oracle="""
    WITH c AS (
        SELECT e.event_id, e.user_id, e.ts,
               (SELECT max(v.ts) FROM events v
                WHERE v.user_id = e.user_id
                  AND v.event_type = 'view'
                  AND v.ts <= e.ts) AS prior_ts,
               (SELECT min(v.ts) FROM events v
                WHERE v.user_id = e.user_id
                  AND v.event_type = 'view'
                  AND v.ts > e.ts) AS next_ts
        FROM events e
        WHERE e.event_type = 'click'
    ), d AS (
        SELECT event_id, user_id, ts, prior_ts, next_ts,
               (prior_ts IS NOT NULL AND
                epoch(ts) - epoch(prior_ts) <= 1800) AS prior_ok,
               (next_ts IS NOT NULL AND
                epoch(next_ts) - epoch(ts) <= 1800) AS next_ok,
               epoch(ts) - epoch(prior_ts) AS back_delta,
               epoch(next_ts) - epoch(ts) AS fwd_delta
        FROM c
    )
    SELECT event_id, user_id, ts,
           CASE WHEN prior_ok AND (NOT next_ok OR back_delta <= fwd_delta)
                     THEN prior_ts
                WHEN next_ok THEN next_ts
           END AS nearest_view_ts,
           CASE WHEN prior_ok AND (NOT next_ok OR back_delta <= fwd_delta)
                     THEN 'backward'
                WHEN next_ok THEN 'forward'
           END AS direction
    FROM d
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST-in-either-direction with tolerance: each
    click matches the closest 'view' of the same user within ±30
    minutes — backward wins ties (the kdb/QuestDB `asof nearest`
    semantics; sensor fusion and trade/quote alignment both want
    "closest reading", not "latest prior", when clocks jitter both
    ways).

    Completes the as-of family (#18 backward, forward, tolerance):
    the SAME one-shuffle union-sort idiom, now with BOTH frame
    directions over a single (user_id, ts) sort — last(ignorenulls)
    over the preceding frame gives the latest prior-or-equal view,
    first(ignorenulls) over the following frame gives the earliest
    strictly-later view (ts-equal views sort before clicks, so they
    land in the preceding frame — '<=' backward / '>' forward, same
    tie rule as the oracle's correlated subqueries). Catalyst plans
    both windows over ONE Sort node; the nearest/tolerance pick is a
    free projection. No join, no argmin, scales as a single
    user-keyed shuffle regardless of click:view ratio."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
        F.when(F.col("event_type") == "view", F.lit(0))
        .otherwise(F.lit(1))
        .alias("type_order"),
    )
    order = [
        F.col("ts").asc(),
        F.col("type_order").asc(),
        F.col("event_id").asc(),
    ]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    tol = 1800
    back_delta = F.col("ts").cast("long") - F.col("prior_ts").cast("long")
    fwd_delta = F.col("next_ts").cast("long") - F.col("ts").cast("long")
    prior_ok = F.col("prior_ts").isNotNull() & (back_delta <= tol)
    next_ok = F.col("next_ts").isNotNull() & (fwd_delta <= tol)
    pick_back = prior_ok & (~next_ok | (back_delta <= fwd_delta))
    return (
        tagged.withColumn(
            "prior_ts", F.last("view_ts", ignorenulls=True).over(w_back)
        )
        .withColumn("next_ts", F.first("view_ts", ignorenulls=True).over(w_fwd))
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(pick_back, F.col("prior_ts"))
            .when(next_ok, F.col("next_ts"))
            .alias("nearest_view_ts"),
            F.when(pick_back, F.lit("backward"))
            .when(next_ok, F.lit("forward"))
            .alias("direction"),
        )
    )


#: Polygon zone edges (zone, x1, y1, x2, y2) in the synthesized
#: integer coordinate space px ∈ [0, 18000), py ∈ [0, 36000):
#: zone 1 is a non-convex "L" ring, zone 2 a triangle. Closing edges
#: included; literal integers so both engines share the exact rings.
_PIP_EDGES = [
    (1, 1000, 2000, 9000, 2000),
    (1, 9000, 2000, 9000, 12000),
    (1, 9000, 12000, 5000, 12000),
    (1, 5000, 12000, 5000, 20000),
    (1, 5000, 20000, 1000, 20000),
    (1, 1000, 20000, 1000, 2000),
    (2, 10000, 22000, 17000, 25000),
    (2, 17000, 25000, 12000, 34000),
    (2, 12000, 34000, 10000, 22000),
]


@register(
    "join_point_in_polygon",
    survey_row=17,
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey, c_acctbal,
               (c_custkey * 7919) % 18000 AS px,
               (c_custkey * 104729) % 36000 AS py
        FROM customer
    ),
    edges AS (
        SELECT * FROM (VALUES
            {", ".join(f"({z}, {x1}, {y1}, {x2}, {y2})" for z, x1, y1, x2, y2 in _PIP_EDGES)}
        ) t(zone, x1, y1, x2, y2)
    ),
    cross_tests AS (
        SELECT p.c_custkey, p.c_acctbal, e.zone,
               CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
                     AND (
                       ((e.y2 - e.y1) > 0 AND
                        (e.x1 - p.px) * (e.y2 - e.y1)
                          + (e.x2 - e.x1) * (p.py - e.y1) > 0)
                       OR
                       ((e.y2 - e.y1) < 0 AND
                        (e.x1 - p.px) * (e.y2 - e.y1)
                          + (e.x2 - e.x1) * (p.py - e.y1) < 0)
                     )
                    THEN 1 ELSE 0 END AS crossed
        FROM pts p JOIN edges e ON true
    ),
    inside AS (
        SELECT c_custkey, c_acctbal, zone
        FROM cross_tests
        GROUP BY c_custkey, c_acctbal, zone
        HAVING sum(crossed) % 2 = 1
    )
    SELECT zone, count(*)::BIGINT AS n_inside,
           round(sum(CAST(floor(round(c_acctbal, 2) * 100 + 0.5)
                          AS BIGINT)) / 100.0, 2) AS acctbal_sum,
           min(c_custkey) AS min_custkey,
           max(c_custkey) AS max_custkey
    FROM inside GROUP BY zone ORDER BY zone
    """,
)
def join_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-POLYGON spatial join — the geofence/zone-assignment
    primitive (which customers fall inside each sales territory),
    completing the spatial trio beside `join_spatial_nearest` and
    `join_spatial_radius`. Ray casting entirely in INTEGERS: points live
    on the synthesized integer lattice, polygon rings are literal
    integer vertices (`_PIP_EDGES` — one non-convex ring, one triangle),
    and the +x ray-edge crossing test is the cross-multiplied form
    sign((x1−px)·dy + (x2−x1)·(py−y1)) = sign(dy) — no division, no
    float, so the odd-crossings parity is bit-identical on both engines
    (max |product| ≈ 1.3e9 ≪ 2⁶³). The zone balance rollup likewise sums
    integer CENTS (the house money convention — a pre-round DOUBLE sum
    over 1e5+ members is engine-order-dependent and drifts toward the
    0.005 rounding boundary as membership grows) and divides back once.

    Scale shape: the edge table is O(vertices) metadata — BROADCAST;
    the crossing evaluation is map-side per (point, edge) with the
    parity reduce keyed on (point, zone), so points shuffle once in
    partially-aggregated form and the plan is linear in the point
    count. For polygon sets too big to broadcast, the standard
    upgrade is a grid-cell prefilter (join on cell key, same
    edge-parity verify) — noted, not needed for zone dims."""
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        "c_acctbal",
        ((F.col("c_custkey") * 7919) % 18000).alias("px"),
        ((F.col("c_custkey") * 104729) % 36000).alias("py"),
    )
    edges = spark.createDataFrame(
        _PIP_EDGES, "zone int, x1 long, y1 long, x2 long, y2 long"
    )
    dy = F.col("y2") - F.col("y1")
    expr = (F.col("x1") - F.col("px")) * dy + (F.col("x2") - F.col("x1")) * (
        F.col("py") - F.col("y1")
    )
    straddle = (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    crossed = F.when(
        straddle & (((dy > 0) & (expr > 0)) | ((dy < 0) & (expr < 0))), 1
    ).otherwise(0)
    inside = (
        pts.join(F.broadcast(edges))
        .select("c_custkey", "c_acctbal", "zone", crossed.alias("crossed"))
        .groupBy("c_custkey", "c_acctbal", "zone")
        .agg(F.sum("crossed").alias("n_cross"))
        .filter(F.col("n_cross") % 2 == 1)
    )
    bal_cents = F.floor(F.round("c_acctbal", 2) * 100 + 0.5).cast("long")
    return (
        inside.select("zone", "c_custkey", bal_cents.alias("bal_c"))
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_inside"),
            F.round(F.sum("bal_c") / 100.0, 2).alias("acctbal_sum"),
            F.min("c_custkey").alias("min_custkey"),
            F.max("c_custkey").alias("max_custkey"),
        )
        .orderBy("zone")
    )
