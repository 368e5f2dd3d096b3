"""Micro-bench one or more registry operators at a fixture dir, with
an optional per-query Spark job/stage breakdown (statusTracker-based).

Usage: python tools/microbench.py op1,op2 [sf_dir] [--stages]
Mirrors bench.py's warm-then-best-of-3 protocol for apples-to-apples
numbers while iterating on a single operator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.session import get_spark


def _execute(df):
    """Protocol v3 (bench.py): noop-sink write so Catalyst cannot
    prune output-only expressions/joins the way count() does."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else "/root/testdata/sf0.1"
    stages = "--stages" in sys.argv
    spark = get_spark(app_name="hmcs-microbench")
    ops = registry.load_all()
    out = {}
    for name in names:
        fn = ops[name].fn
        _execute(fn(spark, sf_dir))  # warm
        best, best_detail = None, None
        for _ in range(3):
            tracker = spark.sparkContext.statusTracker()
            before = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            _execute(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best = dt
                if stages:
                    jobs = [
                        j for j in (tracker.getJobIdsForGroup(None) or [])
                        if j not in before
                    ]
                    detail = []
                    for j in sorted(jobs):
                        ji = tracker.getJobInfo(j)
                        if ji is None:
                            continue
                        for sid in ji.stageIds:
                            si = tracker.getStageInfo(sid)
                            if si is None:
                                continue
                            detail.append(
                                {"job": j, "stage": sid, "name": si.name.split("\n")[0][:80],
                                 "tasks": si.numTasks}
                            )
                    best_detail = detail
        out[name] = {"sec": round(best, 4)}
        if stages and best_detail is not None:
            out[name]["stages"] = best_detail
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
