"""UDF / UDAF / UDTF surface — SURVEY.md §2.9 (#57–60).

The rules of engagement at 100 TB (SURVEY.md §4):
- Built-in functions beat any UDF — #57 exists to *prove* the Python
  row-UDF path works, and its docstring points at the builtin twin.
- When Python is unavoidable, Arrow-batched pandas UDFs (#58, #59):
  columnar transfer, NumPy vectorization, ~10–100× over row UDFs.
- UDTFs (#60) are row-at-a-time generators — fine for control-plane
  fan-outs, wrong for hot paths (use from_json + explode instead).
"""

from __future__ import annotations

import json
import re
from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf
from pyspark.sql.types import DoubleType, StringType

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import load_table


@register(
    "udf_python_scalar",
    survey_row=57,
    oracle="""
    SELECT doc_id,
           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm_text
    FROM documents
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF normalizing text (lowercase + strip
    non-alphanumerics). The builtin twin is
    regexp_replace(lower(text), ...) — always prefer it in real
    pipelines; this operator certifies the UDF execution path against
    the same logic in SQL. ASCII character class on both sides (Python
    \\w is unicode-aware, RE2's is not — avoid the divergence)."""

    @udf(returnType=StringType())
    def normalize(s: str) -> str:
        if s is None:
            return None
        return re.sub(r"[^a-z0-9 ]", "", s.lower())

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", normalize("text").alias("norm_text"))


@register(
    "udf_pandas_scalar",
    survey_row=58,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS revenue_taxed
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) pandas UDF: taxed revenue. NumPy evaluates
    p*(1-d)*(1+t) with the same left-associated IEEE ops as the SQL
    expression, so values match bit-exactly with no rounding."""

    @pandas_udf(DoubleType())
    def revenue_taxed(
        price: pd.Series, disc: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue_taxed("l_extendedprice", "l_discount", "l_tax").alias(
            "revenue_taxed"
        ),
    )


@register(
    "udaf_pandas_grouped",
    survey_row=59,
    oracle="""
    SELECT l_returnflag,
           round(exp(avg(ln(l_quantity))), 6) AS geomean_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregate via applyInPandas: per-flag geometric
    mean of quantity (exp of mean of logs — a shape builtin aggs don't
    offer directly). Each group arrives as one Arrow-backed pandas
    frame; rounding happens Spark-side so both engines round the same
    double."""
    import numpy as np

    def geomean(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"].to_numpy(dtype="float64")
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "geomean_raw": [float(np.exp(np.mean(np.log(q))))],
                "n_rows": [len(q)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem")
    grouped = li.select("l_returnflag", "l_quantity").groupBy("l_returnflag").applyInPandas(
        geomean, schema="l_returnflag string, geomean_raw double, n_rows long"
    )
    return grouped.select(
        "l_returnflag",
        F.round("geomean_raw", 6).alias("geomean_qty"),
        "n_rows",
    )


def register_split_props(spark: SparkSession) -> None:
    """Register the `hmcs_split_props` UDTF on this session (idempotent;
    callable from any session that wants LATERAL prop explosion)."""

    @udtf(returnType="prop_key: string, prop_val: bigint")
    class SplitProps:
        def eval(self, props: str):
            if not props:
                return
            try:
                obj = json.loads(props)
            except ValueError:
                return
            if isinstance(obj, dict):
                for k in sorted(obj):
                    v = obj[k]
                    # Match the oracle's CAST-to-BIGINT: integral
                    # numerics pass through, everything else (floats
                    # with a fraction, strings, bools, nulls) → NULL —
                    # silent int() truncation would diverge on dirty
                    # inputs like 1.9.
                    if (
                        isinstance(v, (int, float))
                        and not isinstance(v, bool)
                        and float(v).is_integer()
                    ):
                        yield k, int(v)
                    else:
                        yield k, None

    spark.udtf.register("hmcs_split_props", SplitProps)


@register(
    "udtf_split_props",
    survey_row=60,
    oracle="""
    SELECT event_id, 'k' AS prop_key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_val
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
)
def udtf_split_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4) exploding a JSON props object into
    (key, value) rows via LATERAL join. The fixture's props carry a
    single numeric key, so the oracle enumerates it directly (DuckDB
    1.0.0 ships no json_each table function); multi-key behavior is
    covered engine-side in tests/test_edge_cases.py."""
    register_split_props(spark)
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("hmcs_events_src")
    return spark.sql(
        """
        SELECT e.event_id, t.prop_key, t.prop_val
        FROM hmcs_events_src e, LATERAL hmcs_split_props(e.props) t
        """
    )


@register(
    "udf_cogrouped_asof",
    survey_row=59,
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
def udf_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: clicks and views cogrouped per user,
    merged with pandas merge_asof inside each Arrow batch — the
    second, independent implementation of the as-of join (#18 is the
    pure window idiom; both hash-match the same oracle).

    Scale shape: one shuffle of each side on user_id, then per-key
    pandas work whose input is a single user's events — bounded state,
    no cross-key memory. The cogroup API is the right tool whenever
    per-key logic needs TWO aligned inputs (asof, interval matching,
    per-entity reconciliation).
    """
    from hive_metadata_collect_spark.sources.fixtures import load_table

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )

    out_schema = (
        "event_id bigint, user_id bigint, ts timestamp, prior_view_ts timestamp"
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in
                 [("event_id", "int64"), ("user_id", "int64"),
                  ("ts", "datetime64[us]"), ("prior_view_ts", "datetime64[us]")]}
            )
        left = left.sort_values("ts", kind="mergesort")
        if right.empty:
            out = left.copy()
            out["prior_view_ts"] = pd.NaT
            return out[["event_id", "user_id", "ts", "prior_view_ts"]]
        right = (
            right[["view_ts"]]
            .sort_values("view_ts", kind="mergesort")
            .rename(columns={"view_ts": "prior_view_ts"})
        )
        out = pd.merge_asof(
            left,
            right,
            left_on="ts",
            right_on="prior_view_ts",
            direction="backward",
            allow_exact_matches=True,
        )
        return out[["event_id", "user_id", "ts", "prior_view_ts"]]

    return (
        clicks.groupBy("user_id")
        .cogroup(views.groupBy("user_id"))
        .applyInPandas(merge, schema=out_schema)
    )


@register(
    "udf_arrow_scalar",
    survey_row=57,
    oracle="""
    SELECT doc_id,
           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm_text
    FROM documents
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (Spark 4 `useArrow=True`): same
    normalize logic and oracle as udf_python_scalar, but rows cross to
    Python as Arrow batches instead of pickled rows — the drop-in
    upgrade when a row UDF can't be vectorized but serialization is
    the bottleneck."""

    @udf(returnType=StringType(), useArrow=True)
    def normalize(s: str) -> str:
        if s is None:
            return None
        return re.sub(r"[^a-z0-9 ]", "", s.lower())

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", normalize("text").alias("norm_text"))


@register(
    "udf_pandas_iter_model",
    survey_row=58,
    oracle="""
    SELECT doc_id,
           round(
               1.0 / (1.0 + exp(-(0.01 * n_chars - 0.5 * (doc_id % 7)))),
               6
           ) AS score
    FROM documents
    """,
)
def udf_pandas_iter_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR pandas UDF (`Iterator[Series] -> Iterator[Series]`) —
    the BATCH-INFERENCE plumbing every LLM data pipeline runs: the
    expensive one-time setup ("model load" — here a deterministic
    logistic scorer standing in for a real checkpoint, which this
    container cannot hold) happens ONCE PER PARTITION, before the
    batch loop, then every Arrow batch is scored vectorized. A plain
    pandas UDF re-enters Python per batch with no setup hook; a row
    UDF would pay per row. At 100 TB this pattern is the difference
    between loading a tokenizer/model 10⁹ times and |partitions|
    times. The scorer is pure math, so the oracle restates it in SQL
    and the gate is hash-exact."""
    import math

    @pandas_udf(DoubleType())
    def score_batches(
        batches: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        # one-time per-partition setup: the "model"
        weights = {"w_chars": 0.01, "w_bucket": -0.5}

        def model(chars: pd.Series, bucket: pd.Series) -> pd.Series:
            z = weights["w_chars"] * chars + weights["w_bucket"] * bucket
            return (1.0 / (1.0 + (-z).map(math.exp))).round(6)

        for chars, bucket in batches:
            yield model(chars, bucket)

    d = load_table(spark, sf_dir, "documents").withColumn(
        "bucket", (F.col("doc_id") % 7).cast("double")
    )
    return d.select(
        "doc_id",
        score_batches(
            F.col("n_chars").cast("double"), F.col("bucket")
        ).alias("score"),
    )


@register(
    "pipeline_feature_store_pit",
    survey_row=18,
    oracle="""
    WITH spine AS (
        SELECT user_id, event_id AS example_id, ts AS label_ts
        FROM events WHERE event_type = 'purchase'
    ),
    feat_act AS (  -- activity feature, refreshed on view events
        SELECT user_id, ts AS feat_ts,
               event_id % 100 AS activity_score
        FROM events WHERE event_type = 'view'
    ),
    feat_err AS (  -- reliability feature, refreshed on error events
        SELECT user_id, ts AS feat_ts,
               event_id % 7 AS error_level
        FROM events WHERE event_type = 'error'
    ),
    j1 AS (
        SELECT s.example_id, s.user_id, s.label_ts,
               max_by(f.activity_score,
                      CAST(floor(epoch(f.feat_ts)) AS BIGINT) * 100000
                      + f.activity_score) AS activity_score
        FROM spine s LEFT JOIN feat_act f
          ON f.user_id = s.user_id AND f.feat_ts <= s.label_ts
        GROUP BY s.example_id, s.user_id, s.label_ts
    )
    SELECT j1.example_id, j1.user_id,
           j1.activity_score::BIGINT AS activity_score,
           max_by(e.error_level,
                  CAST(floor(epoch(e.feat_ts)) AS BIGINT) * 100000
                  + e.error_level)::BIGINT AS error_level,
           (j1.activity_score IS NULL) AS missing_activity,
           (max(e.feat_ts) IS NULL) AS missing_error_history
    FROM j1 LEFT JOIN feat_err e
      ON e.user_id = j1.user_id AND e.feat_ts <= j1.label_ts
    GROUP BY j1.example_id, j1.user_id, j1.activity_score
    """,
)
def pipeline_feature_store_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-STORE point-in-time join — the training-set
    construction rule ML platforms exist to enforce (every feature
    value must be the latest AS OF the label's timestamp; joining
    current features onto historical labels is the leakage that
    makes offline metrics lie): a label spine (purchases) joins TWO
    independently-refreshed feature tables (activity from views,
    reliability from errors), each resolved to its own most-recent
    value ≤ label time, with missing-history flags (a new user has
    NO feature history — the imputation decision belongs
    downstream, not silently here).

    Each feature resolve is the as-of reduce (max_by over a
    time-composite key — ties at identical timestamps pinned by
    value, same convention both sides); features chain LEFT so
    spine rows never drop. At scale each resolve is one
    user-keyed shuffle, and the resolved spine — not the raw
    feature logs — is what a training job reads; this op is the
    leakage-free oracle the `join_asof` family generalizes to N
    tables."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("example_id"),
        F.col("ts").alias("label_ts"),
    )
    feat_act = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
        (F.col("event_id") % 100).alias("activity_score"),
    )
    feat_err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        (F.col("event_id") % 7).alias("error_level"),
    )
    j1 = (
        spine.join(
            feat_act,
            (F.col("user_id") == F.col("a_user"))
            & (F.col("a_ts") <= F.col("label_ts")),
            "left_outer",
        )
        .groupBy("example_id", "user_id", "label_ts")
        .agg(
            F.max_by(
                "activity_score",
                F.unix_timestamp("a_ts") * 100000 + F.col("activity_score"),
            ).alias("activity_score")
        )
    )
    return (
        j1.join(
            feat_err,
            (F.col("user_id") == F.col("e_user"))
            & (F.col("e_ts") <= F.col("label_ts")),
            "left_outer",
        )
        .groupBy("example_id", "user_id", "activity_score")
        .agg(
            F.max_by(
                "error_level",
                F.unix_timestamp("e_ts") * 100000 + F.col("error_level"),
            )
            .cast("long")
            .alias("error_level"),
            F.max("e_ts").isNull().alias("missing_error_history"),
        )
        .select(
            "example_id",
            "user_id",
            F.col("activity_score").cast("long").alias("activity_score"),
            "error_level",
            F.col("activity_score").isNull().alias("missing_activity"),
            "missing_error_history",
        )
    )


@register(
    "udf_map_in_arrow",
    survey_row=58,
    oracle="""
    SELECT vec_id,
           floor(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * 1e6 + 0.5) / 1e6 AS l2_norm,
           len(list_filter(embedding, x -> x < 0))::BIGINT AS n_negative
    FROM embeddings
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the LOWEST-overhead Python escape hatch in the
    Spark 4 surface: the UDF receives raw `pyarrow.RecordBatch`es
    (no pandas materialization, no per-column Series boxing) and
    yields RecordBatches back. The right tier when the Python work is
    itself Arrow/NumPy-native — here an embedding audit (L2 norm +
    negative-component count) computed by zero-copy NumPy over the
    Arrow buffers. Per-batch float64 reduction over float32 inputs in
    ascending index order matches DuckDB's list_transform/list_sum
    fold exactly, so the gate is hash-exact (same trick as the
    F.aggregate ops: identical fold order ⇒ identical doubles).
    At 100 TB: map-only, no shuffle; the Arrow tier saves the
    ~2× pandas conversion tax mapInPandas pays per batch."""
    import pyarrow as pa
    import numpy as np

    def audit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            vec_ids = tbl.column("vec_id").to_numpy()
            embs = tbl.column("embedding").to_pylist()
            norms = np.empty(len(embs), dtype=np.float64)
            negs = np.empty(len(embs), dtype=np.int64)
            for k, v in enumerate(embs):
                a = np.asarray(v, dtype=np.float32).astype(np.float64)
                # sequential left-to-right fold == the SQL list_sum
                acc = 0.0
                for x in a:
                    acc += x * x
                # explicit half-UP at 1e-6 (Python round() is
                # banker's; DuckDB/Spark round is half-away — norms
                # are positive so floor(x·1e6 + 0.5) matches both)
                norms[k] = float(np.floor(np.sqrt(acc) * 1e6 + 0.5) / 1e6)
                negs[k] = int((a < 0).sum())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(norms, type=pa.float64()),
                    pa.array(negs, type=pa.int64()),
                ],
                names=["vec_id", "l2_norm", "n_negative"],
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(
        audit, "vec_id long, l2_norm double, n_negative long"
    )


@register(
    "udf_sql_declarative",
    survey_row=57,
    oracle="""
    SELECT o_orderpriority,
           CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS tier,
           count(*)::BIGINT AS n,
           round(sum(CAST(round(o_totalprice * 0.97 * 100)
                     AS BIGINT)) / 100.0, 2) AS discounted_total
    FROM orders
    GROUP BY o_orderpriority, tier
    ORDER BY o_orderpriority, tier
    """,
)
def udf_sql_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 `CREATE FUNCTION … RETURN expr` —
    the ANSI SQL/PSM surface): a scalar tiering function and a
    discount function declared IN SQL, then used in an aggregate
    query. Unlike every Python UDF tier, SQL UDFs inline into the
    Catalyst plan at analysis time — the optimized plan contains only
    the expanded expressions (codegen, pushdown, no serialization
    boundary), which is why they are the FIRST choice for shared
    business logic at 100 TB. The oracle states the same logic
    inlined by hand; the discounted sum is cents-quantized before
    accumulation so the group totals are integer-exact. The final
    total casts to DOUBLE: Spark's `/100.0` literal is DECIMAL-typed
    and the driver's pandas hash renders Decimal vs DuckDB's float
    differently (the tpch_q9 driver-hash miss) — presentation-only, the
    cents accumulation stays integer."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hmcs_price_tier(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p >= 200000 THEN 'high' "
        "WHEN p >= 100000 THEN 'mid' ELSE 'low' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hmcs_disc_cents(p DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(p * 0.97 * 100) AS BIGINT)"
    )
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("hmcs_sqludf_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               hmcs_price_tier(o_totalprice) AS tier,
               count(*) AS n,
               CAST(round(sum(hmcs_disc_cents(o_totalprice)) / 100.0, 2)
                    AS DOUBLE) AS discounted_total
        FROM hmcs_sqludf_orders
        GROUP BY o_orderpriority, tier
        ORDER BY o_orderpriority, tier
        """
    )
