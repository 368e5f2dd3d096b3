"""Parquet fixture sources (TESTDATA.md).

At fixture scale these are single files; at 100 TB the same call reads
a date-partitioned parquet/iceberg layout and Catalyst applies
partition pruning + predicate pushdown + column pruning automatically —
operators therefore always express filters/projections declaratively
and never pre-materialize.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# DataFrames are immutable, so the relation for a (session, dir, table)
# triple can be built once and reused: a fresh spark.read.parquet per
# call re-creates the LogicalRelation (file listing + parquet footer
# schema read) and that dominated query PLANNING time — measured 0.53 s
# → 0.13 s to plan the 5-way star join at sf0.1 after caching. Keyed
# weakly on the session so stopped sessions don't pin stale frames.
_TABLE_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    cache = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    if key not in cache:
        cache[key] = _read_table(spark, sf_dir, name)
    return cache[key]


#: Inputs under this are "small": a redistribution shuffle costs less
#: than leaving 30+ cores idle through a CPU-heavy stage.
_SPREAD_GATE_BYTES = 64 << 20


def spread_small(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    cols: list[str] | None = None,
    partitions: int = 8,
) -> DataFrame:
    """Load a fixture table, round-robin repartitioned ONLY if its
    on-disk size is small (< 64 MB).

    Why: fixture parquet files have a single row group, so a scan is
    one task no matter what `maxPartitionBytes` says — a CPU-heavy
    stage downstream (tokenize / explode / n-gram) then runs on one
    core while 31 idle. Exchanging a few-MB input is ~free and unlocks
    full-core compute. The gate makes this scale-safe: a 100 TB table
    blows past it, no repartition is inserted, and parallelism comes
    from the table's own file/row-group layout — blanket-
    repartitioning a big read would be the classic full-shuffle
    anti-pattern this helper exists to avoid. The gate reads the
    filesystem size directly (no Catalyst stats round-trip: a plan
    analysis per call costs more driver time than the shuffle saves at
    fixture scale); an unlistable path counts as big — err on the
    no-shuffle side."""
    import os

    df = load_table(spark, sf_dir, name)
    if cols is not None:
        # project before the exchange so the shuffle carries only the
        # columns the downstream stage reads
        df = df.select(*cols)
    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            size = sum(
                e.stat().st_size for e in os.scandir(path) if e.is_file()
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        size = _SPREAD_GATE_BYTES
    return df.repartition(partitions) if size < _SPREAD_GATE_BYTES else df


def normalize_ts(df: DataFrame) -> DataFrame:
    """Give an events frame one µs TIMESTAMP ``ts``, whatever its
    parquet vintage. events.ts has shipped as both TIMESTAMP(NANOS),
    which reads as a raw long under nanosAsLong (session.py), and plain
    TIMESTAMP(MICROS). A long is floor-truncated to µs, identical to
    DuckDB's ns→µs conversion, so oracle timestamps hash-match. A
    TIMESTAMP(MICROS) file reads as TIMESTAMP_NTZ and is cast to
    TIMESTAMP, the type watermarks and unix_micros need; the session
    timezone is pinned to UTC, so the cast is wall-clock identical to
    DuckDB's naive reading."""
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast(TimestampType()))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_ts(df) if name == "events" else df
