"""Full driver-contract emulation sweep.

Runs every `__spark_entry__.queries()` entry on a PLAIN SparkSession
(the driver does not use our tuned builder) against its
`oracle_sql()` twin in DuckDB at the given fixture dir (default
sf0.01, the driver's CORRECTNESS scale), comparing row count, column
set, and canonical values — the same contract the per-round
CORRECTNESS_r{N}.json check enforces. Entries with no oracle get a
rows-only smoke (runs and returns >= 0 rows).

Usage: python tools/contract_sweep.py [sf_dir] [--only name1,name2]
                                      [--max-rows N] [--driver-mem 16g]
                                      [--driverlike]

--driverlike: compare with testing.compare_frames_driverlike — the
str()-level pandas-path rendering the driver's hash actually sees
(no canonicalization), catching Decimal/int128/float-presentation
divergences that compare_frames' canon_value erases (the r7/r8
driver-miss class).

--driver-mem SIZE (scale-sweep mode): raise the driver heap for the
one JVM. The default stays Spark's plain 1g — the driver's protocol —
which is fine at its sf0.01 gate; a FULL 448-op sweep at sf1 in one
1g session dies of heap around op ~90 even with per-op cache clearing
(ops that pass standalone at sf1 fail in sequence — broadcast blocks
and shuffle buffers outlive clearCache). bench.py documents the same
1g-starves-the-executor-threads reason for its sf1 runs. The master
is the host profile's (``session.host_profile()``).

--max-rows N (scale-sweep mode): before comparing, count the Spark
side; if it exceeds N, record rows-only instead of collecting both
result sets into pandas. The driver's own gate runs at sf0.01 where
every oracle output collects comfortably; at sf1 the pair-output
operators (dedup_levenshtein: 51M rows) would OOM the comparison
itself, which tests nothing about the engine. Hash comparison is
unaffected for every op under the cap.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = "/root/testdata/sf0.01"
    only = None
    max_rows = None
    args = [a for a in sys.argv[1:]]
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    skip = set()
    if "--skip" in args:
        # scale-sweep mode: exclude named ops (the documented
        # quadratic-oracle exceptions — their literal DuckDB twins
        # are hours-infeasible at sf10 BY CONSTRUCTION; their hash
        # gates live at sf0.01-sf1, see BASELINE.md r8 notes)
        i = args.index("--skip")
        skip = set(args[i + 1].split(","))
        del args[i : i + 2]
    if "--max-rows" in args:
        i = args.index("--max-rows")
        max_rows = int(args[i + 1])
        del args[i : i + 2]
    driver_mem = None
    if "--driver-mem" in args:
        i = args.index("--driver-mem")
        driver_mem = args[i + 1]
        del args[i : i + 2]
    driverlike = False
    if "--driverlike" in args:
        driverlike = True
        args.remove("--driverlike")
    if args:
        sf_dir = args[0]

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from hive_metadata_collect_spark.session import host_profile
    from hive_metadata_collect_spark.testing import (
        compare_frames,
        compare_frames_driverlike,
        duck_connection,
    )

    compare = compare_frames_driverlike if driverlike else compare_frames

    builder = SparkSession.builder.master(host_profile()["master"]).appName(
        "contract-sweep"
    )
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    spark = builder.getOrCreate()
    con = duck_connection(sf_dir)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = [
        n for n in queries if (only is None or n in only) and n not in skip
    ]
    if skip:
        print(f"skipped by flag: {sorted(skip & set(queries))}")

    t_all = time.time()
    n_pass = n_rows_only = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            if name in oracles and (
                max_rows is None or df.count() <= max_rows
            ):
                compare(df, con, oracles[name])
                n_pass += 1
                tag = "pass"
            else:
                rows = df.count()
                assert rows >= 0
                n_rows_only += 1
                tag = f"rows-only({rows})"
        except Exception as e:  # noqa: BLE001 - report and continue
            n_fail += 1
            tag = f"FAIL: {type(e).__name__}: {str(e)[:300]}"
        finally:
            # Isolate operators: several ops persist() model/token
            # frames and a 446-op sweep in ONE plain (1g-heap)
            # session accumulates all of them, starving execution
            # memory until a wide shuffle OOMs mid-sweep at sf0.1
            # (observed: 96 cascading failures after op ~350). Each
            # op must stand alone, exactly as it does under the
            # driver, so drop the cache between ops.
            spark.catalog.clearCache()
        print(f"{name:36s} {time.time() - t0:6.2f}s  {tag}", flush=True)

    print(
        f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} FAIL "
        f"of {len(names)} in {time.time() - t_all:.0f}s @ {sf_dir}"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
