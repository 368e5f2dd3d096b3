"""The driver-scale gate in the default pytest path: one session-scoped
test that runs EVERY oracle-carrying operator at sf0.01 — the driver's
own CORRECTNESS scale — under the driverlike comparator (str()-level
pandas renderings, the hash model the driver actually applies). Without
it a gap would need bridging by hand: tests/test_parity.py gates at
sf0.001 while the driver samples at sf0.01, and two historical driver
misses (text_hashed_features, tpch_q9) were scale- or
rendering-dependent.

Knobs:
- ``SPARK_GRAFT_SKIP_DRIVER_GATE=1`` skips it (quick inner-loop runs;
  tools/contract_sweep.py remains the plain-session variant of the
  same check).
- ``SPARK_GRAFT_DRIVER_GATE_ONLY=a,b`` restricts to named ops.

The session is sized from the host (``session.host_profile()``): a
full run is ~5 minutes on 32 cores and ~7 minutes on 4 — inside the
"one command gives the full local gate in <10 min" budget the verdict
set.
"""

from __future__ import annotations

import os

import pytest

from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.testing import (
    compare_frames_driverlike,
    duck_connection,
)

_GATE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_DRIVER_GATE_SF_DIR", "/root/testdata/sf0.01"
)


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SKIP_DRIVER_GATE") == "1",
    reason="driver-scale gate disabled by env knob",
)
def test_driverlike_sweep_at_driver_scale(spark):
    ops = registry.load_all()
    only = os.environ.get("SPARK_GRAFT_DRIVER_GATE_ONLY")
    names = sorted(
        n
        for n, op in ops.items()
        if op.oracle is not None and (only is None or n in only.split(","))
    )
    con = duck_connection(_GATE_SF_DIR)
    failures: list[str] = []
    try:
        for name in names:
            try:
                df = ops[name].fn(spark, _GATE_SF_DIR)
                compare_frames_driverlike(df, con, ops[name].oracle)
            except Exception as exc:  # noqa: BLE001 - aggregate report
                failures.append(f"{name}: {type(exc).__name__}: {exc}")
            finally:
                # ops that persist() model frames must not accumulate
                # across a 460+-op loop (the contract_sweep lesson)
                spark.catalog.clearCache()
    finally:
        con.close()
    assert not failures, (
        f"{len(failures)} of {len(names)} ops failed the driver-scale "
        "driverlike gate:\n" + "\n".join(failures[:20])
    )
