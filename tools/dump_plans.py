"""Regenerate PLANS.md: formatted physical plans of the benchmark
headline queries at sf0.01, for plan review without running Spark.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from hive_metadata_collect_spark import registry  # noqa: E402
from hive_metadata_collect_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark(app_name="hmcs-plans")
    ops = registry.load_all()
    out = [
        "# PLANS — physical plans of the benchmark headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at sf=0.01 "
        f"(spark {spark.version}, AQE on, "
        f"shuffle={spark.conf.get('spark.sql.shuffle.partitions')}). Things to check",
        "per plan: `PushedFilters`/`ReadSchema` on every parquet scan,",
        "`BroadcastHashJoin` for dim joins, partial+final `HashAggregate`",
        "pairs around a single `Exchange`, `TakeOrderedAndProject` for",
        "top-k.",
        "",
    ]
    for key, op_name in HEADLINE.items():
        df = registry.build_frame(spark, op_name, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {key} (`{op_name}`)", "", "```", buf.getvalue().rstrip(), "```", ""]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
