"""Pre-declaration oracle-parity gate (SURVEY.md §5.3a).

Every operator registered WITH an oracle is run on Spark and on DuckDB
at sf0.001 and compared with BOTH comparators in one pass:

- ``compare_frames`` — order-insensitive canonical values (12-sig-digit
  floats), the semantic-equality gate;
- ``compare_frames_driverlike`` — the driver-hash emulation (pandas
  payloads, str()-level numeric renderings, temporal/null normalized),
  which catches Decimal-vs-float64 / int128 / int-vs-float presentation
  divergences the canonical comparison erases. It catches the two
  driver misses (text_hashed_features, tpch_q9) that passed every
  other local gate.

An operator may only carry an oracle in the registry if it passes here.
"""

from __future__ import annotations

import pytest

from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.testing import (
    compare_frames,
    compare_frames_driverlike,
)

OPS = registry.load_all()
ORACLE_OPS = sorted(name for name, op in OPS.items() if op.oracle is not None)
ROWS_ONLY_OPS = sorted(name for name, op in OPS.items() if op.oracle is None)


@pytest.mark.parametrize("name", ORACLE_OPS)
def test_oracle_parity(spark, duck, sf_dir, name):
    op = OPS[name]
    df = op.fn(spark, sf_dir)
    compare_frames(df, duck, op.oracle)
    compare_frames_driverlike(df, duck, op.oracle)


@pytest.mark.parametrize("name", ROWS_ONLY_OPS)
def test_rows_only_runs(spark, sf_dir, name):
    df = OPS[name].fn(spark, sf_dir)
    assert len(df.columns) > 0
    assert df.count() >= 0
