"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixtures) on a session sized by
``session.host_profile()``.

Prints ONE compact JSON line, the last line of output:
  {"metric": "...", "value": N, "unit": "sec", "protocol": "prepared-v3-noop",
   "queries": {...}, "total_cold": N, "queries_cold": {...}, "sf": ...}

`value`/`queries` time the PREPARED frame: the plan is built once and
executed warm, the serving path. `total_cold`/`queries_cold` rebuild
the DataFrame inside the timed region, so frame build and analysis are
timed too.

Query keys mirror BASELINE.md's measured-baseline table. One
SparkSession is reused for the whole suite, and each query is fully
executed via a noop-sink write (see ``_execute``), which materializes
every output column of every row.

Per-stage metrics come from the same timed runs: each run gets its own
job group, and after a key's runs the best run's jobs and stages are
read from Spark's in-process status store (perfbench/spark_status.py),
outside the timed region. They go to BENCH_STAGES.json next to this
script, one record per timed key, and are never printed: the driver's
stdout capture keeps only a bounded tail, so the stdout line must stay
small.

Environment: SPARK_GRAFT_SF_DIR (fixture dir), SPARK_GRAFT_ONLY=q_a,q_b
(time only these keys) and SPARK_GRAFT_NOTE (prepended to the
provenance stamp).
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "perfbench")]

from hive_metadata_collect_spark import registry  # noqa: E402
from hive_metadata_collect_spark.session import get_spark, host_profile  # noqa: E402
from measure import stage_cover  # noqa: E402
from spark_status import StatusReader  # noqa: E402


def _execute(df):
    """Materialize every output column of every row.

    NOT count(): count() lets Catalyst prune unused output columns —
    and with them whole expression trees and row-preserving joins —
    so it under-measures any query whose expensive work feeds only
    the output columns (observed: sim_semdedup's pair join eliminated
    under count, 8 joins -> 2). The noop sink executes the plan with
    the full output schema and writes nothing.
    """
    df.write.format("noop").mode("overwrite").save()


# BENCH key → registry operator name (BASELINE.md table rows).
HEADLINE = {
    "q_pricing_summary": "agg_pricing_summary",
    "q_join_agg": "join_multiway_star",
    "q_topk": "limit_topk_global",
    "q_window": "win_topk_per_group",
    "q_grouping_sets": "agg_grouping_sets",
    "q_distinct": "agg_count_distinct",
    "q_semi": "join_left_semi",
    "q_events_tumbling": "stream_tumbling_counts",
    "q_json": "fn_json_extract",
    "q_doc_dedup": "dedup_exact",
    "q_cosine_knn": "sim_topk_cosine",
    "q_asof": "join_asof",
    "q_sessions": "stream_session_windows",
    "q_lineage": "cat_lineage_closure",
    "q_percentiles": "agg_percentiles",
    "q_unsalted_join": "join_skew_unsalted",
    "q_funnel": "cat_funnel_conversion",
    "q_scd2": "cat_scd2_diff",
    "q_centroids": "sim_label_centroids",
    "q_bigrams": "text_bigram_topk",
    "q_tpch_q6": "tpch_q6_forecast_revenue",
    "q_tpch_q21": "tpch_q21_waiting_suppliers",
    "q_repetition": "text_repetition_score",
    # NOT q_token_bucket: its oracle is a deliberately naive
    # recursive-CTE single-stepper (a semantics check, not DuckDB's
    # natural form) — Spark's fold beats it 21x at sf0.1, which
    # would flatter the suite ratio dishonestly.
    "q_vocab": "text_vocab_coverage",
    # The LLM-pipeline path with real compute: banding-join dedup,
    # shingle decontamination, sequence packing, feature hashing.
    # The timed LSH representative is dedup_lsh_components, the
    # clustering form whose oracle CTE chain is hash-exact at every SF
    # through sf10, so every headline query is paired. The banding
    # pair-emitter (llm.dedup.minhash_lsh_candidates) has no DuckDB
    # twin (no seeded xxhash64 in DuckDB), so it is not timed.
    "q_minhash_lsh": "dedup_lsh_components",
    "q_decontaminate": "pipeline_decontaminate",
    "q_pack": "pipeline_pack_sequences",
    "q_hashed_features": "text_hashed_features",
    # TPC-H Q2's deep shape (derived supply relation + window-min
    # decorrelation), the Gopher curation battery (map-only integer
    # rules — the filter pass a 100 TB crawl pays per document), and
    # the autocorrelation profile (window + explode-pivot + exact
    # integer moments). All three pair against oracles that are
    # DuckDB's natural formulation.
    "q_tpch_q2": "tpch_q2_min_cost_supplier",
    "q_gopher": "text_gopher_quality_rules",
    "q_autocorr": "win_autocorr_profile",
    # The iterative-ML path: the trained-and-applied Naive Bayes
    # classifier (broadcast model joins over two token passes) and
    # distributed two-iteration Lloyd's k-means (broadcast-centroid
    # assignment, integer trajectory). Both oracles are DuckDB's
    # natural CTE formulation of the same integer-exact algorithm.
    "q_nb_lang": "text_naive_bayes_lang",
    # The array-native k-means assignment (map-only Arrow assignment,
    # no K×|corpus| grouped shuffle) measured 3.1× faster at sf1 and
    # 3.8× at sf10 than the posexplode form on identical output, so it
    # is the one timed; the posexplode twin stays registered as the
    # pure-Catalyst form (pair recorded in BASELINE.md).
    "q_kmeans": "sim_kmeans_lloyd_arrays",
    # SemDeDup (cluster-scoped integer-cosine pair pruning — the
    # semantic-dedup scale shape) and cross-document duplicate 8-gram
    # coverage (the exact-substr dedup signal: gram inverted index +
    # join-back). Both oracles are the natural DuckDB formulation of
    # the same exact-integer logic.
    "q_semdedup": "sim_semdedup",
    "q_dup_ngram": "text_dup_ngram_coverage",
    # The parse-once ingest twin of q_json: warm runs time the
    # typed-column scan; the first (untimed) warm call pays the
    # one-off materialization.
    "q_json_ingested": "fn_json_extract_ingested",
}

# By-design-pessimal demos: the salted-join twin exists to measure the
# cost of salting itself (docstring) — ~10 s of sf10 suite wall for a
# lesson, not an engine number. The driver contract forbids removing or
# renaming entries in "queries", so demo keys STAY in
# "queries"/"queries_cold" and in value/total_cold; the engine-only
# reading is emitted as the ADDITIONAL fields "value_ex_demos"/
# "total_cold_ex_demos" plus "demo_keys" naming the exclusions.
DEMO = {
    "q_salted_join": "join_skew_salted",
}

#: Local properties that ``SparkContext.setJobGroup`` sets.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _run_record(reader: StatusReader, group: str, start_ms: float, wall: float) -> dict:
    """Jobs and stages of one timed run (job group ``group``), and the
    split of its wall into time some stage covers and time none does."""
    jobs = reader.job_ids(group)
    stages = sorted(
        reader.stages(s for j in jobs for s in reader.job_stage_ids(j)).values(),
        key=lambda s: (s["start_ms"], s["stage"]),
    )
    covered, unattributed = stage_cover(
        [(s["start_ms"], s["end_ms"]) for s in stages], start_ms, start_ms + wall * 1000
    )
    return {
        "wall_s": round(wall, 4),
        "jobs": len(jobs),
        "covered_s": round(covered / 1000, 4),
        "unattributed_s": round(unattributed / 1000, 4),
        "stages": [
            {
                "stage": s["stage"],
                "attempt": s["attempt"],
                "tasks": s["tasks"],
                "wall_ms": int(s["end_ms"] - s["start_ms"]),
                "run_ms": s["run_ms"],
                "cpu_ms": round(s["cpu_ns"] / 1e6, 1),
                "gc_ms": s["gc_ms"],
                "shuffle_write_bytes": s["shuffle_write_bytes"],
                "spill_bytes": s["spill_bytes"],
            }
            for s in stages
        ],
    }


def _time_prepared(spark, mapping: dict[str, str], sf_dir: str) -> tuple[dict, dict]:
    """Best-of-3 wall of each key's prepared frame, and the stage
    record of that best run. Run ``i`` of a key runs in job group
    ``bench|<key>|<i>``, set before the clock starts; the status store
    is read after the key's runs. The caller's job group is restored."""
    sc = spark.sparkContext
    reader = StatusReader(spark)
    caller = {p: sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS}
    timings: dict[str, float] = {}
    records: dict[str, dict] = {}
    try:
        for key, op_name in mapping.items():
            best = None  # (wall, run, epoch ms at start)
            for run in range(3):
                sc.setJobGroup(f"bench|{key}|{run}", key)
                start_ms = time.time() * 1000
                t0 = time.perf_counter()
                _execute(registry.prepared_frame(spark, op_name, sf_dir))
                dt = time.perf_counter() - t0
                if best is None or dt < best[0]:
                    best = (dt, run, start_ms)
            timings[key] = round(best[0], 4)
            # Job and stage ends reach the status store through the
            # asynchronous listener bus; drain it before reading.
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            records[key] = _run_record(reader, f"bench|{key}|{best[1]}", best[2], best[0])
    finally:
        for prop, value in caller.items():
            sc.setLocalProperty(prop, value)
    return timings, records


def _time_cold(spark, mapping: dict[str, str], sf_dir: str) -> dict[str, float]:
    """Best-of-2 wall of each key with the frame rebuilt and
    re-analyzed inside the timed region (the relation cache stays
    warm)."""
    out: dict[str, float] = {}
    for key, op_name in mapping.items():
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            _execute(registry.build_frame(spark, op_name, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        out[key] = round(best, 4)
    return out


def _provenance(profile: dict) -> str:
    """Code state and session shape, so a stale artifact is detectable
    without cross-referencing other files; SPARK_GRAFT_NOTE prepends a
    condition note ("idle machine", ...)."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, cwd=HERE,
        ).stdout.strip() or "unknown"
    except Exception:
        head = "unknown"
    stamp = (
        f"protocol v3 noop; code {head}; {datetime.date.today()}; "
        f"{profile['master']}, {profile['driver_mem']} driver, "
        f"shuffle={profile['shuffle_partitions']}"
    )
    note = os.environ.get("SPARK_GRAFT_NOTE")
    return f"{note}; {stamp}" if note else stamp


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # SPARK_GRAFT_ONLY=q_a,q_b restricts the suite (e.g. the sf10
    # scaling-point runs time only the compute-carrying subset).
    only = os.environ.get("SPARK_GRAFT_ONLY")
    keep = set(only.split(",")) if only else None
    headline = {k: v for k, v in HEADLINE.items() if keep is None or k in keep}
    demo = {k: v for k, v in DEMO.items() if keep is None or k in keep}
    # Driver heap: Spark's local-mode default is 1g, which starves the
    # executor threads (the sf1 LSH candidate set OOMs a 1g heap while
    # DuckDB uses all machine memory by default), so the session takes
    # the host profile: master, heap and shuffle partitions.
    profile = host_profile()
    spark = get_spark(app_name="hmcs-bench")
    registry.load_all()

    # Warm pass: run every headline query once untimed so the timed
    # runs measure steady-state execution, not JVM JIT / codegen /
    # file-index bring-up (BASELINE.md's DuckDB numbers are likewise
    # warm medians from a hot process). The warm run also populates the
    # registry's prepared-query cache, so the timed runs below measure
    # the PREPARED form: plan built once, executed per run — the
    # serving path of a query engine (DuckDB's per-run SQL parse is
    # sub-ms; Spark's Python DAG rebuild + re-analysis is 50–270 ms of
    # driver overhead that no served query pays twice).
    for op_name in list(headline.values()) + list(demo.values()):
        _execute(registry.prepared_frame(spark, op_name, sf_dir))

    # Settle between warm and timed passes: the warm pass materializes
    # every result set (the LSH pair query alone is tens of millions
    # of rows at sf1), and that garbage otherwise bills a multi-second
    # GC stall to whichever query is timed FIRST — observed as 0.2 s →
    # 4.4 s best-of-3 spikes on q_pricing_summary that moved between
    # runs. One explicit collection outside any timed region.
    spark._jvm.System.gc()
    time.sleep(1.0)

    timings, stages = _time_prepared(spark, {**headline, **demo}, sf_dir)
    timings_cold = _time_cold(spark, {**headline, **demo}, sf_dir)
    spark.stop()

    total = round(sum(timings.values()), 4)
    total_cold = round(sum(timings_cold.values()), 4)
    demo_keys = [k for k in demo if k in timings]
    total_ex = round(total - sum(timings[k] for k in demo_keys), 4)
    total_cold_ex = round(
        total_cold - sum(timings_cold[k] for k in demo_keys), 4
    )
    payload = {
        "metric": "headline_suite_total_wall",
        "value": total,
        "unit": "sec",
        "protocol": "prepared-v3-noop",
        "queries": timings,
        "total_cold": total_cold,
        "queries_cold": timings_cold,
        # Engine-only totals excluding the by-design-pessimal demo
        # queries (see DEMO above) — additional fields; the demo keys
        # themselves stay in "queries" per the driver contract.
        "demo_keys": demo_keys,
        "value_ex_demos": total_ex,
        "total_cold_ex_demos": total_cold_ex,
        # The driver's scaling probe compares runs at different
        # $SPARK_GRAFT_CPUS; the honored value as first-class fields
        # tells a floor-bound ≈1 ratio at sf0.1 apart from an ignored
        # env var without reading the provenance string.
        "cpus": profile["cores"],
        "master": profile["master"],
        "sf": sf,
        "provenance": _provenance(profile),
    }
    with open(os.path.join(HERE, "BENCH_STAGES.json"), "w", encoding="utf-8") as f:
        json.dump(
            {
                "sf": sf,
                "headline_total": total,
                "protocol": "prepared-v3-noop",
                "queries": stages,
            },
            f,
            indent=1,
        )
    # Printed last: the grading driver merges stdout+stderr and parses
    # the tail, so any output after this line breaks it.
    print(json.dumps(payload))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
