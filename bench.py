"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixtures) on a session sized by
``session.host_profile()``.

Prints ONE compact JSON line:
  {"metric": "...", "value": N, "unit": "sec", "protocol": "prepared-v3-noop",
   "queries": {...}, "total_cold": N, "queries_cold": {...}, "sf": ...}

`value`/`queries` time the PREPARED frame (plan built once, warm —
the serving path; round-4 protocol). `total_cold`/`queries_cold`
rebuild the DataFrame inside the timed region (rounds ≤3 protocol) so
cross-round comparisons stay honest in both forms.

Query keys mirror BASELINE.md's measured-baseline table so the judge
can line BENCH_r{N}.json up against it row by row. One SparkSession is
reused for the whole suite (BASELINE.md "interpretation" note); each
query is fully executed via a noop-sink WRITE (protocol v3), which
materializes EVERY output column of every row.

PROTOCOL v3 (r10): rounds 4-9 timed `df.count()`. count() discards
the output columns, so Catalyst prunes every expression and even
row-preserving joins (unique-key outer joins with unused columns) out
of the executed plan — for sim_semdedup the entire pair join vanished
(2 joins in the count plan vs 7 in the real plan) and the committed
sf10 number timed a skeleton (1.27 s) while the honest execution is
minutes. `df.write.format("noop")` keeps the full output schema in
the executed plan (the Spark-native benchmarking sink). Numbers for
queries whose work survived count-pruning are comparable to the v2
series within noise; queries with pruned work (q_semdedup above all)
are NOT comparable to their v2 numbers — v2 understated them.

The per-stage wall-timing evidence for the above-floor queries (the
floor-vs-fixable breakdown) is written to BENCH_STAGES.json NEXT TO
this script, NOT printed: round 3 proved the driver's stdout capture
keeps only a bounded tail, and inlining the breakdown pushed the JSON
line past that buffer, so BENCH_r03.json recorded "parsed": null.
The stdout line must stay small. Set SPARK_GRAFT_STAGES=0 to skip the
second (event-logged) pass entirely.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _execute(df):
    """Materialize every output column of every row (protocol v3).

    NOT count(): count() lets Catalyst prune unused output columns —
    and with them whole expression trees and row-preserving joins —
    so it under-measures any query whose expensive work feeds only
    the output columns (observed: sim_semdedup's pair join eliminated
    under count, 8 joins -> 2). The noop sink executes the plan with
    the full output schema and writes nothing.
    """
    df.write.format("noop").mode("overwrite").save()

from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.session import configure, get_spark, host_profile

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
    # Round-7 (r6 verdict item 3): the LLM-pipeline path with real
    # compute on the bench — banding-join dedup, shingle
    # decontamination, sequence packing, feature hashing.
    # r11 (r10 verdict item 3/7): the timed LSH representative is now
    # dedup_lsh_components — the r10 clustering form whose oracle CTE
    # chain is hash-exact at every SF through sf10 — so every
    # headline query is PAIRED. The old representative
    # (dedup_near_minhash_lsh_pairs, the banding pair-emitter) was
    # 23 % of suite wall with NO DuckDB twin by design (no seeded
    # xxhash64 in DuckDB); it stays registered as an engine-only
    # artifact and in the r7–r10 bench history. Cross-round note:
    # q_minhash_lsh values before r11 time the OLD pair query — the
    # series breaks here deliberately (BASELINE.md r11 section).
    "q_minhash_lsh": "dedup_lsh_components",
    "q_decontaminate": "pipeline_decontaminate",
    "q_pack": "pipeline_pack_sequences",
    "q_hashed_features": "text_hashed_features",
    # Round-8: the completed TPC-H suite's new deep shape (Q2: derived
    # supply relation + window-min decorrelation), the Gopher curation
    # battery (map-only integer rules — the filter pass a 100 TB crawl
    # pays per document), and the autocorrelation profile (window +
    # explode-pivot + exact integer moments). All three pair against
    # oracles that are DuckDB's natural formulation.
    "q_tpch_q2": "tpch_q2_min_cost_supplier",
    "q_gopher": "text_gopher_quality_rules",
    "q_autocorr": "win_autocorr_profile",
    # Round-8 continuation: the trained-and-applied Naive Bayes
    # classifier (broadcast model joins over two token passes) and
    # distributed two-iteration Lloyd's k-means (broadcast-centroid
    # assignment, integer trajectory) — the iterative-ML path on the
    # bench. Both oracles are DuckDB's natural CTE formulation of the
    # same integer-exact algorithm.
    "q_nb_lang": "text_naive_bayes_lang",
    # r10: the array-native assignment twin (map-only Arrow assignment,
    # no K×|corpus| grouped shuffle) measured 3.1× faster at sf1 and
    # 3.8× at sf10 than the posexplode form on identical output — it
    # is the headliner per the r9 verdict's measure-and-keep-the-winner
    # directive; the posexplode twin stays registered as the
    # pure-Catalyst form (pair recorded in BASELINE.md §r10).
    "q_kmeans": "sim_kmeans_lloyd_arrays",
    # Round-8 continuation (second session): SemDeDup (cluster-scoped
    # integer-cosine pair pruning — the semantic-dedup scale shape)
    # and cross-document duplicate 8-gram coverage (the exact-substr
    # dedup signal: gram inverted index + join-back). Both oracles are
    # the natural DuckDB formulation of the same exact-integer logic.
    "q_semdedup": "sim_semdedup",
    "q_dup_ngram": "text_dup_ngram_coverage",
    # r12: the parse-once ingest twin of q_json (r11 verdict item 1's
    # production answer) — warm runs time the typed-column scan; the
    # first (untimed) warm call pays the one-off materialization.
    "q_json_ingested": "fn_json_extract_ingested",
}

# By-design-pessimal demos (r11 verdict item 7): the salted-join twin
# exists to measure the cost of salting itself (docstring) — ~10 s of
# sf10 suite wall for a lesson, not an engine number. The driver
# contract forbids removing or renaming entries in "queries", so demo
# keys STAY in "queries"/"queries_cold" and in value/total_cold
# exactly as in r1–r11; the engine-only reading the r11 verdict asked
# for is emitted as the ADDITIONAL fields "value_ex_demos"/
# "total_cold_ex_demos" plus "demo_keys" naming the exclusions
# (documented in OPTIMIZATION_r12.md and BASELINE.md).
DEMO = {
    "q_salted_join": "join_skew_salted",
}

#: Queries that get a per-stage breakdown in the output (the ones
#: sitting above the local floor — evidence for floor-vs-fixable).
BREAKDOWN = [
    "q_join_agg",
    "q_unsalted_join",
    "q_lineage",
    "q_sessions",
    "q_funnel",
    "q_bigrams",
    "q_minhash_lsh",
    "q_decontaminate",
]


def _parse_stage_windows(event_dir: str) -> list[dict]:
    """Completed stages from the (single-app) event log: submission /
    completion epoch ms, task count, first line of the stage name."""
    stages = []
    paths = [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(event_dir)
        for name in files
        if "appstatus" not in name
    ]
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") != "SparkListenerStageCompleted":
                    continue
                si = ev.get("Stage Info", {})
                sub, comp = si.get("Submission Time"), si.get("Completion Time")
                if sub is None or comp is None:
                    continue
                stages.append(
                    {
                        "stage": si.get("Stage ID"),
                        "name": str(si.get("Stage Name", ""))[:60],
                        "tasks": si.get("Number of Tasks"),
                        "sub_ms": sub,
                        "wall_ms": comp - sub,
                    }
                )
    return stages


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # SPARK_GRAFT_ONLY=q_a,q_b restricts the suite (the sf10
    # scaling-point runs time only the compute-carrying subset).
    only = os.environ.get("SPARK_GRAFT_ONLY")
    headline = (
        {k: v for k, v in HEADLINE.items() if k in set(only.split(","))}
        if only
        else HEADLINE
    )
    demo = (
        {k: v for k, v in DEMO.items() if k in set(only.split(","))}
        if only
        else DEMO
    )
    # Driver heap: Spark's local-mode default is 1g, which starves the
    # executor threads (the sf1 LSH candidate set OOMs a 1g heap while
    # DuckDB uses all machine memory by default), so the session takes
    # the host profile: master, heap and shuffle partitions.
    profile = host_profile()

    # ---- pass 1: timed, UNinstrumented (event logging costs ~7% of
    # suite wall, so the reported numbers come from a clean session) --
    spark = get_spark(app_name="hmcs-bench")
    ops = registry.load_all()

    # Warm pass: run every headline query once untimed so the timed
    # runs measure steady-state execution, not JVM JIT / codegen /
    # file-index bring-up (BASELINE.md's DuckDB numbers are likewise
    # warm medians from a hot process). The warm run also populates the
    # registry's prepared-query cache, so the timed runs below measure
    # the PREPARED form: plan built once, executed per run — the
    # serving path of a query engine (DuckDB's per-run SQL parse is
    # sub-ms; Spark's Python DAG rebuild + re-analysis is 50–270 ms of
    # driver overhead that no served query pays twice). Protocol change
    # vs rounds ≤3, which rebuilt the frame inside the timed region.
    for op_name in list(headline.values()) + list(demo.values()):
        if registry.resolvable(op_name):
            _execute(registry.prepared_frame(spark, op_name, sf_dir))

    # Settle between warm and timed passes: the warm pass materializes
    # every result set (the LSH pair query alone is tens of millions
    # of rows at sf1), and that garbage otherwise bills a multi-second
    # GC stall to whichever query is timed FIRST — observed as 0.2 s →
    # 4.4 s best-of-3 spikes on q_pricing_summary that moved between
    # runs. One explicit collection outside any timed region.
    spark._jvm.System.gc()
    time.sleep(1.0)

    def _time_prepared(mapping: dict[str, str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for key, op_name in mapping.items():
            if not registry.resolvable(op_name):
                continue
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                # force full execution of every partition AND column
                _execute(registry.prepared_frame(spark, op_name, sf_dir))
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            out[key] = round(best, 4)
        return out

    timings = _time_prepared({**headline, **demo})

    # Cold timings (rounds ≤3 protocol): the Python DAG is rebuilt and
    # re-analyzed INSIDE the timed region (relation cache stays warm,
    # as it was in round 3). Reported beside the prepared numbers so
    # BENCH_r{N} stays comparable across rounds in BOTH protocols
    # (round-4 verdict item 4 / advice: the prepared-only headline
    # conflated engine speed with the protocol change).
    def _time_cold(mapping: dict[str, str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for key, op_name in mapping.items():
            if not registry.resolvable(op_name):
                continue
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                _execute(registry.build_frame(spark, op_name, sf_dir))
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            out[key] = round(best, 4)
        return out

    timings_cold = _time_cold({**headline, **demo})
    spark.stop()

    total = round(sum(timings.values()), 4)
    total_cold = round(sum(timings_cold.values()), 4)
    demo_keys = [k for k in demo if k in timings]
    total_ex = round(total - sum(timings[k] for k in demo_keys), 4)
    total_cold_ex = round(
        total_cold - sum(timings_cold[k] for k in demo_keys), 4
    )
    # The headline JSON is printed at the END of main() (after the
    # pass-2 sidecar work) so it is the LAST line of output: the
    # grading driver merges stdout+stderr and parses the tail — any
    # output after the JSON line breaks it (BENCH_r07 "parsed": null
    # came from pass-2 console progress bars trailing the line).
    # Pass 2 is wrapped in try/except for the same reason: its
    # failure must neither prevent the print nor trail a traceback.
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
        # Core-count legibility (r12 verdict item 2): the driver's
        # scaling probe compares runs at different $SPARK_GRAFT_CPUS;
        # carrying the honored value as first-class fields makes a
        # floor-bound ≈1 ratio at sf0.1 distinguishable from an
        # ignored env var without reading the provenance string.
        "cpus": profile["cores"],
        "master": profile["master"],
        "sf": sf,
    }
    # Provenance carried INSIDE every artifact (r9/r10 verdicts: the
    # committed BENCH json should say which code state and machine
    # condition produced it, so a stale artifact is detectable
    # without cross-referencing SURVEY — BENCH_r10.json lacked the
    # key and drifted 33 % from the promoted pairing). A default
    # stamp (git HEAD, date, session shape) is always emitted;
    # SPARK_GRAFT_NOTE prepends the human condition note
    # ("idle machine", ...).
    import datetime
    import subprocess

    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        ).stdout.strip() or "unknown"
    except Exception:
        head = "unknown"
    stamp = (
        f"protocol v3 noop; code {head}; {datetime.date.today()}; "
        f"{profile['master']}, {profile['driver_mem']} driver, "
        f"shuffle={profile['shuffle_partitions']}"
    )
    note = os.environ.get("SPARK_GRAFT_NOTE")
    payload["provenance"] = f"{note}; {stamp}" if note else stamp
    headline_json = json.dumps(payload)
    try:
        _stage_sidecar(headline, ops, sf_dir, sf, total)
    except Exception as exc:  # pragma: no cover - diagnostic path
        sys.stderr.write(f"bench: stage sidecar pass failed: {exc}\n")
        sys.stderr.flush()
    print(headline_json)
    sys.stdout.flush()


def _stage_sidecar(headline, ops, sf_dir, sf, total):
    """Pass 2: event-logged session over BREAKDOWN queries; writes the
    per-stage wall breakdown to BENCH_STAGES.json (never stdout)."""
    from pyspark.sql import SparkSession

    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_STAGES.json"
    )
    # A stages-disabled run must leave the previous (still valid,
    # headline-stamped) sidecar intact rather than destroy it and
    # write nothing (ADVICE r5) — so the opt-out check comes BEFORE
    # the stale-sidecar removal.
    if os.environ.get("SPARK_GRAFT_STAGES", "1") == "0":
        return

    # Never leave a stale sidecar beside a fresh headline (advice r4):
    # remove it up front; pass 2 rewrites it stamped with this run's
    # headline total so the two artifacts can be paired.
    if os.path.exists(sidecar):
        os.remove(sidecar)

    # ---- pass 2: event-logged session, breakdown queries only — the
    # per-stage evidence (floor vs fixable), not the headline time.
    # Written to BENCH_STAGES.json (sidecar), never printed: the
    # driver's stdout tail buffer is bounded (see module docstring). --
    event_dir = tempfile.mkdtemp(prefix="hmcs-bench-events-")
    spark = (
        configure(SparkSession.builder.appName("hmcs-bench-stages"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", event_dir)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    windows: dict[str, tuple[float, float]] = {}  # best run's epoch-ms span
    for key in BREAKDOWN:
        if key not in headline:
            continue
        op_name = headline.get(key)
        if not registry.resolvable(op_name):
            continue
        df = registry.prepared_frame(spark, op_name, sf_dir)
        _execute(df)  # warm
        best = None
        for _ in range(2):
            e0 = time.time() * 1000
            t0 = time.perf_counter()
            _execute(df)
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best = dt
                windows[key] = (e0, time.time() * 1000)
    spark.stop()  # flush + finalize the event log before parsing

    stages = _parse_stage_windows(event_dir)
    breakdown: dict[str, list] = {}
    for key, (lo, hi) in windows.items():
        breakdown[key] = [
            {k: s[k] for k in ("stage", "name", "tasks", "wall_ms")}
            for s in sorted(stages, key=lambda s: s["sub_ms"])
            if lo <= s["sub_ms"] <= hi
        ]
    shutil.rmtree(event_dir, ignore_errors=True)

    with open(sidecar, "w", encoding="utf-8") as f:
        json.dump(
            {
                "sf": sf,
                "headline_total": total,
                "protocol": "prepared-v3-noop",
                "stage_breakdown": breakdown,
            },
            f,
            indent=1,
        )


if __name__ == "__main__":
    main()
