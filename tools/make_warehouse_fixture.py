"""Generate fixtures/warehouse — the committed mini warehouse tree
that gives `cat_storage_size` a real DuckDB oracle: the (path, bytes)
inventory of a deterministic warehouse listing is hashed against a
DuckDB projection of the same tree, the same replay pattern as the
Delta/Iceberg fixtures.

The tree exercises both warehouse layouts the operator must parse:
  warehouse/region.parquet                      single-file table
  warehouse/nation.parquet                      single-file table
  warehouse/lineitem.parquet/part-0000?.parquet directory table
and two non-table entries the *.parquet glob must EXCLUDE:
  warehouse/README.txt
  warehouse/lineitem.parquet/_SUCCESS

Determinism note: the parquet bytes are committed in git, so both
engines stat the identical files; regeneration only matters if the
fixture is deliberately rebuilt (then re-run this script and re-commit).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "warehouse",
)


def main() -> None:
    li_dir = os.path.join(ROOT, "lineitem.parquet")
    os.makedirs(li_dir, exist_ok=True)

    region = pa.table(
        {"r_regionkey": list(range(5)), "r_name": [f"region_{i}" for i in range(5)]}
    )
    nation = pa.table(
        {"n_nationkey": list(range(25)), "n_regionkey": [i % 5 for i in range(25)]}
    )
    pq.write_table(region, os.path.join(ROOT, "region.parquet"))
    pq.write_table(nation, os.path.join(ROOT, "nation.parquet"))
    for part in range(2):
        rows = pa.table(
            {
                "l_orderkey": list(range(part * 100, part * 100 + 100)),
                "l_quantity": [float(i % 50) for i in range(100)],
            }
        )
        pq.write_table(
            rows, os.path.join(li_dir, f"part-{part:05d}.parquet")
        )
    with open(os.path.join(ROOT, "README.txt"), "w") as fh:
        fh.write("non-parquet file: must be excluded by the glob\n")
    with open(os.path.join(li_dir, "_SUCCESS"), "w") as fh:
        fh.write("")
    for dirpath, _dirs, files in os.walk(ROOT):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            print(f"{os.path.relpath(p, ROOT):40s} {os.path.getsize(p)} bytes")


if __name__ == "__main__":
    main()
