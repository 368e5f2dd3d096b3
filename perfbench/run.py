"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_prepared --seed 1 --seconds 10 --trace 0

Run from the repository root. The tables are generated from ``--seed``
under ``.perfbench/`` in that root, the session is sized from the host
(cores from the CPU affinity mask, driver heap from MemTotal), and
every scratch file Spark, DuckDB or the JVM writes stays under
``.perfbench/``. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(which also writes the spans to ``.perfbench/traces/``). The line
before it records the run's provenance (master, heap, shuffle
partitions, git HEAD, seed, failures and the tail percentile used).

Exits with code 2, printing no result, when the engine's sources are
not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_prepared", "collect")

END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "query_geomean_s": "s",
    "collection_s": "s",
    "retained_mb": "MB",
}


def host_profile() -> dict:
    """Cores from the affinity mask, driver heap a quarter of MemTotal
    (at least 1 GiB), two shuffle partitions per core."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_gb = max(1, mem_kb // (4 << 20))
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "driver_mem": f"{heap_gb}g",
        "shuffle_partitions": 2 * cores,
        "duck_mem": f"{heap_gb}GB",
    }


def _configure_env(host: dict, work: str) -> None:
    """Size the session through the engine's own SPARK_GRAFT_* variables
    and keep every scratch directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["cores"]),
        SPARK_GRAFT_DRIVER_MEM=host["driver_mem"],
        SPARK_GRAFT_SHUFFLE=str(host["shuffle_partitions"]),
        SPARK_GRAFT_DUCK_MEM=host["duck_mem"],
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher too: no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--driver-java-options",
                shlex.quote(f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"),
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
                "pyspark-shell",
            ]
        ),
    )


def _git_head() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() or "unknown"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metrics(names_units: dict, values: dict) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in names_units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hive_metadata_collect_spark", "registry.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2

    host = host_profile()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(host, work)
    sys.path[:0] = [HERE, ROOT]
    import datagen
    import workloads

    sf = workloads.SCALE[args.workload]
    sf_dir = datagen.write_tables(os.path.join(work, "data"), sf, args.seed)

    setup_start = time.perf_counter()
    from hive_metadata_collect_spark import registry
    from hive_metadata_collect_spark.session import get_spark
    from hive_metadata_collect_spark.testing import duck_connection
    from spark_status import StatusReader

    tracer = workloads.Tracer(bool(args.trace))
    with tracer.span("session.start") as sp:
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        registry.load_all()
    try:
        ctx = workloads.Context(
            spark=spark,
            sf_dir=sf_dir,
            seed=args.seed,
            seconds=args.seconds,
            cores=host["cores"],
            out_dir=os.path.join(work, "out"),
            tracer=tracer,
            reader=StatusReader(spark) if args.trace else None,
            setup_start=setup_start,
            setup_layers={"session.start_s": (sp["end_ms"] - sp["start_ms"]) / 1000},
        )
        outcome = workloads.run(args.workload, ctx, duck_connection)
    finally:
        _stop(spark)

    lat = outcome.info["latency"]
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "trace": args.trace,
        **{k: host[k] for k in ("master", "driver_mem", "shuffle_partitions")},
        "git_head": _git_head(),
        "failed_ratio": outcome.failed / outcome.attempted,
        "query_p90_level": lat["tail_level"],
        "samples": lat["n"],
        **{k: v for k, v in outcome.info.items() if k != "latency"},
    }
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        trace_path = os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"
        )
        with open(trace_path, "w", encoding="utf-8") as fh:
            json.dump(
                {"provenance": provenance, "spans": tracer.spans, "ops": outcome.records},
                fh, default=str,
            )
        provenance["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = _metrics(
            {name: layer_unit(name) for name in workloads.PER_LAYER}, outcome.layers
        )
    else:
        metrics = _metrics(
            END_TO_END,
            {
                "setup_s": outcome.setup_s,
                "queries_per_s": len(outcome.latencies) / sum(outcome.pass_walls),
                "query_p50_s": lat["p50"],
                "query_p90_s": lat["tail"],
                "query_geomean_s": lat["geomean"],
                "collection_s": sum(outcome.pass_walls) / len(outcome.pass_walls),
                "retained_mb": outcome.retained_mb,
            },
        )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(provenance, default=str))
    print(
        json.dumps(
            {
                "correct": not outcome.info["check_failures"],
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("cover", "util")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
