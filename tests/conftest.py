from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_metadata_collect_spark.session import get_spark  # noqa: E402
from hive_metadata_collect_spark.testing import duck_connection  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="hmcs-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
