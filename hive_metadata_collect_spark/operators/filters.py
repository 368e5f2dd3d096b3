"""Projection / filter / predicate operators — SURVEY.md §2.2 (#5–7).

Scale notes: all predicates here are expressed on raw columns, so
Catalyst pushes them into the parquet scan (PushedFilters → row-group
min/max skipping). At 100 TB with a date-partitioned layout, the
shipdate range predicate in #5 additionally becomes static partition
pruning. Row-level arithmetic (#7) is IEEE-identical across engines —
no rounding needed, stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import load_table


@register(
    "filter_range_pred",
    survey_row=5,
    oracle="""
    SELECT round(sum(l_extendedprice::DECIMAL(12,2)
                      * l_discount::DECIMAL(12,2)), 2)::DOUBLE AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def filter_range_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: conjunctive range predicates → tiny agg.
    Every predicate is pushed to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # DECIMAL accumulation (double sums drift between engines at
            # sf10): a single global group of money products is the q9
            # shape
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(12,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "filter_in_or_not",
    survey_row=6,
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE (o_orderpriority IN ('1-URGENT', '2-HIGH') OR o_orderstatus = 'F')
      AND NOT (o_orderpriority = '5-LOW')
      AND o_orderdate IS NOT NULL
    """,
)
def filter_in_or_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list / OR / NOT / IS NULL predicate mix."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            | (F.col("o_orderstatus") == "F")
        )
        & ~(F.col("o_orderpriority") == "5-LOW")
        & F.col("o_orderdate").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


@register(
    "project_expr",
    survey_row=7,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_returnflag || '-' || l_linestatus AS flag_status
    FROM lineitem
    """,
)
def project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projections: row-level arithmetic + string concat."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.concat_ws("-", "l_returnflag", "l_linestatus").alias("flag_status"),
    )


@register(
    "sub_scalar_agg",
    survey_row=6,
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def sub_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter. Expressed as SQL so Catalyst plans the
    subquery itself (one global agg broadcast into the scan's filter) —
    no driver-side collect of the average."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sub_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM sub_orders
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM sub_orders)
        """
    )


@register(
    "sub_exists_correlated",
    survey_row=12,
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def sub_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst decorrelates it into a left-semi
    join (same physical plan as #12's API form; `.explain` shows
    LeftSemi). Declared separately because the SQL surface matters:
    users port EXISTS queries verbatim."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sub_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sub_orders2")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM sub_customer c
        WHERE EXISTS (SELECT 1 FROM sub_orders2 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """
    )


@register(
    "sub_lateral_topk",
    survey_row=29,
    oracle="""
    SELECT n_name, c_custkey, c_acctbal
    FROM nation,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_custkey
             LIMIT 2)
    """,
)
def sub_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per nation, its top-2 customers by
    balance. Catalyst decorrelates the lateral into a ranked window
    join — same physical shape as win_topk_per_group, but declared
    per-row; the deterministic tie-break (custkey) keeps the top-2 set
    stable across engines."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT n_name, c_custkey, c_acctbal
        FROM v_nation
        JOIN LATERAL (SELECT c_custkey, c_acctbal FROM v_customer
                      WHERE c_nationkey = n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey
                      LIMIT 2)
        """
    )


@register(
    "sub_in_any_all",
    survey_row=7,
    oracle="""
    SELECT p_partkey, p_name, round(p_retailprice, 2) AS p_retailprice
    FROM part
    WHERE p_retailprice > ALL (
              SELECT p_retailprice FROM part WHERE p_brand = 'Brand#13'
          )
      AND p_size < ANY (
              SELECT p_size FROM part WHERE p_brand = 'Brand#13'
          )
    ORDER BY p_partkey
    """,
)
def sub_in_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified subquery comparisons — `> ALL` and `< ANY`, the SQL
    surface Spark's DataFrame API has no literal operator for. Both
    decorrelate to ONE scalar aggregate over the subquery: x > ALL S
    ⇔ x > max(S) and x < ANY S ⇔ x < max(S) (S is non-empty and
    null-free here; with possible NULLs the rewrite needs the
    three-valued guard). The 1-row (max_price, max_size) frame is
    broadcast — the subquery never re-evaluates per row, which is
    also how a cost-based SQL engine planner executes the quantifier.
    """
    p = load_table(spark, sf_dir, "part")
    brand = p.filter(F.col("p_brand") == "Brand#13")
    bounds = brand.agg(
        F.max("p_retailprice").alias("max_price"),
        F.max("p_size").alias("max_size"),
    )
    return (
        p.join(F.broadcast(bounds))
        .filter(
            (F.col("p_retailprice") > F.col("max_price"))
            & (F.col("p_size") < F.col("max_size"))
        )
        .select(
            "p_partkey",
            "p_name",
            F.round("p_retailprice", 2).alias("p_retailprice"),
        )
        .orderBy("p_partkey")
    )


@register(
    "sub_not_in_null_trap",
    survey_row=7,
    oracle="""
    WITH excl AS (
        SELECT c_custkey FROM customer WHERE c_nationkey < 5
        UNION ALL SELECT NULL
    )
    SELECT 'not_in_with_null' AS variant, count(*)::BIGINT AS n_orders
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM excl)
    UNION ALL
    SELECT 'not_exists' AS variant, count(*)::BIGINT AS n_orders
    FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM excl e WHERE e.c_custkey = o.o_custkey
    )
    """,
)
def sub_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE three-valued-logic trap, stated as an operator: `NOT IN`
    against a subquery containing one NULL returns ZERO rows (x <>
    NULL is UNKNOWN, so no row ever satisfies the predicate), while
    the `NOT EXISTS` formulation of the "same" exclusion returns the
    real complement — the single most common silent-wrong-answer bug
    in migrated SQL. Spark compiles the NOT IN to a NULL-AWARE anti
    join (broadcast-only by design: the null check needs the whole
    build side per task — which is WHY big-side NOT IN is a scale
    trap too) and the NOT EXISTS to a plain left anti. Declared
    through spark.sql so both planner paths are exercised verbatim;
    both engines implement the ANSI semantics and must agree on the
    0 / full-count pair."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "hmcs_nit_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "hmcs_nit_customer"
    )
    return spark.sql(
        """
        WITH excl AS (
            SELECT c_custkey FROM hmcs_nit_customer WHERE c_nationkey < 5
            UNION ALL SELECT NULL
        )
        SELECT 'not_in_with_null' AS variant, count(*) AS n_orders
        FROM hmcs_nit_orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM excl)
        UNION ALL
        SELECT 'not_exists' AS variant, count(*) AS n_orders
        FROM hmcs_nit_orders o WHERE NOT EXISTS (
            SELECT 1 FROM excl e WHERE e.c_custkey = o.o_custkey
        )
        """
    )


@register(
    "sub_count_bug",
    survey_row=12,
    oracle="""
    SELECT c.c_custkey,
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 200000) AS n_big,
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 200000) = 0 AS has_none
    FROM customer c
    """,
)
def sub_count_bug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COUNT-decorrelation trap stated as an operator (the
    set-ops cousin of `sub_not_in_null_trap`): a correlated scalar
    COUNT(*) must return 0 — not NULL, not a dropped row — for
    customers with no qualifying orders. The naive decorrelation
    (inner join + group) silently loses exactly those customers;
    the correct rewrite is LEFT OUTER join + count of the non-null
    side, which is what Catalyst's scalar-subquery decorrelation
    produces. Declared through spark.sql so the planner's own
    rewrite runs verbatim and the zero-filled rows are hash-gated
    against the oracle's semantic (DuckDB evaluates the subquery as
    specified).

    Scale: decorrelates to one aggregate of orders on custkey +
    one LEFT join — both key-partitioned, no per-row subquery
    execution anywhere."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("scb_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("scb_orders")
    return spark.sql(
        """
        SELECT c.c_custkey,
               (SELECT count(*) FROM scb_orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 200000) AS n_big,
               (SELECT count(*) FROM scb_orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 200000) = 0 AS has_none
        FROM scb_customer c
        """
    )
