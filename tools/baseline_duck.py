"""Re-measure the DuckDB oracle baseline for the bench headline
queries (median of 3, full fetch) on the CURRENT fixtures and machine.

The headline oracle SQL comes straight from the registry (same SQL the
driver's correctness gate runs), so the baseline always matches the
operator semantics actually shipped. Usage:
    python tools/baseline_duck.py [sf_dir] [--only a,b] [--inproc]

r13: by default each key is timed in its OWN child process (the parent
relaunches this script with --inproc --only <key>). Per-key timing is
unchanged — the child still does warm + median-of-3 on a hot
connection — but a key that hard-crashes DuckDB can no longer destroy
the rest of the pairing: the 24 GB-capped q_hashed_features
materialization at sf10 SIGSEGVed inside the DuckDB allocator (not a
catchable Python exception; `.scratch/r13/duck_sf10_r13.err` run 2),
which no amount of in-process rebuild hardening survives. Process
isolation also returns every key's memory to the kernel before the
next key starts. The base memory cap is the host profile's
(``session.host_profile()``); a crashed key is retried in a fresh
child at SPARK_GRAFT_DUCK_MEM_RETRY (default half of MemTotal) and the
line annotated. A deterministic SQL error ends the ladder at once and
is printed as the child reported it. --inproc restores the
single-process behavior (used by the children, and available for
debugging).
"""

from __future__ import annotations

import os
import re
import statistics
import subprocess
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import duckdb

from bench import DEMO, HEADLINE
from hive_metadata_collect_spark import registry
from hive_metadata_collect_spark.session import host_profile, mem_total_kb
from hive_metadata_collect_spark.testing import duck_connection


def _meminfo_available_gb() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / 1024**2
    except OSError:
        pass
    return float("inf")  # no meminfo — skip the gate


def _caps() -> tuple[str, str]:
    """The base DuckDB memory cap and the larger retry cap."""
    retry = f"{max(1, mem_total_kb() // (2 << 20))}GB"
    return (
        host_profile()["duck_mem"],
        os.environ.get("SPARK_GRAFT_DUCK_MEM_RETRY", retry),
    )


def _parent(sf_dir: str, only: set[str] | None) -> None:
    """Drive one child process per key; aggregate TOTAL lines."""
    print(f"# DuckDB {duckdb.__version__} @ {sf_dir} (per-key process isolation)")
    total = 0.0
    demo_total = 0.0
    line_re = re.compile(r"^(q_\w+)\s+([0-9.]+) ms\b")
    base_mem, retry_mem = _caps()
    for key in list(HEADLINE) + list(DEMO):
        if only is not None and key not in only:
            continue
        is_demo = key in DEMO
        printed = False
        # Attempt ladder: base cap → bigger cap → bigger cap at 8
        # threads. The last rung exists because DuckDB 1.0.0 has a
        # thread-count-dependent SIGSEGV in its large external hash
        # aggregation (q_hashed_features' 500k×1024 matrix at sf10
        # crashes at 32 threads under ANY memory_limit 24–90 GB but
        # completes in ~26 s at 8 threads) — a reduced-thread timed
        # point, clearly annotated, beats an untimed crash line, and
        # fewer threads only ever slows DuckDB (never flatters Spark).
        # The 8-thread rung appears twice: DuckDB 1.0.0's large
        # external hash agg is nondeterministically unstable (segv OR
        # internal OOM OR a clean ~27 s completion at IDENTICAL
        # settings — observed back-to-back on q_hashed_features at
        # sf10), so the stable-config rung deserves two chances before
        # the key is declared unpairable.
        ladder = [(base_mem, None), (retry_mem, None),
                  (retry_mem, "8"), (retry_mem, "8")]
        for attempt, (mem, threads) in enumerate(ladder):
            if attempt:
                # A child that just died mid-spill held tens of GB the
                # kernel reclaims asynchronously; launching the retry
                # into that pressure reproduces the crash. Wait until
                # the memory is actually back (or 90 s).
                need_gb = 1.2 * float(re.sub(r"[^0-9.]", "", mem))
                for _ in range(18):
                    if _meminfo_available_gb() >= need_gb:
                        break
                    time.sleep(5)
            env = dict(os.environ, SPARK_GRAFT_DUCK_MEM=mem)
            if threads is not None:
                env["SPARK_GRAFT_DUCK_THREADS"] = threads
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), sf_dir,
                 "--inproc", "--only", key],
                capture_output=True, text=True, env=env,
            )
            out_line = None
            fallback_line = None
            for line in proc.stdout.splitlines():
                m = line_re.match(line)
                if m and m.group(1) == key:
                    out_line = line
                    break
                if line.startswith(key):
                    # "(no oracle)" ends the ladder; "(error:)"/
                    # "(OOM even at ...)" from a child does NOT — the
                    # later rungs (more memory / fewer threads) may
                    # still produce a timed point.
                    if "(no oracle)" in line:
                        out_line = line
                        break
                    fallback_line = line
            if proc.returncode == 0 and out_line is not None:
                m = line_re.match(out_line)
                if m:
                    med = float(m.group(2)) / 1000
                    total += med
                    if is_demo:
                        demo_total += med
                note = ""
                if attempt:
                    thr = f", {threads} threads" if threads else ""
                    note = f" (child retried at {mem}{thr})"
                print(out_line + note)
                printed = True
                break
            if proc.returncode == 0 and "(error:" in (fallback_line or ""):
                # a SQL error: more memory or fewer threads won't fix it
                print(fallback_line)
                printed = True
                break
            # crashed or failed child — annotate and climb the ladder
            sys.stderr.write(
                f"# {key}: child rc={proc.returncode} at {mem}"
                f"{'/' + threads + 'thr' if threads else ''}; "
                f"line={fallback_line!r}; "
                f"stderr tail: {proc.stderr[-200:]!r}\n"
            )
        if not printed:
            print(f"{key:<22} (unpairable: every ladder rung crashed or"
                  f" OOMed — {base_mem}, {retry_mem}, 2x {retry_mem}/8thr)")
    print(f"{'TOTAL':<22} {total * 1000:8.1f} ms")
    print(f"{'TOTAL_EX_DEMOS':<22} {(total - demo_total) * 1000:8.1f} ms")


def main() -> None:
    args = list(sys.argv[1:])
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    inproc = "--inproc" in args
    if inproc:
        args.remove("--inproc")
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    if not inproc:
        _parent(sf_dir, only)
        return

    def fresh_con():
        con = duck_connection(sf_dir)
        # Set only by the parent's crash-fallback rung (see _parent):
        # works around DuckDB 1.0.0's thread-count-dependent SIGSEGV
        # in large external hash aggregations.
        threads = os.environ.get("SPARK_GRAFT_DUCK_THREADS")
        if threads:
            con.execute(f"SET threads={int(threads)}")
        return con

    def _timed(con, sql):
        con.execute(sql).fetchall()  # warm
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            rows = con.execute(sql).fetchall()
            times.append(time.perf_counter() - t0)
        return rows, statistics.median(times)

    def _rebuild(old):
        """Close a poisoned connection and build a fresh one. The dying
        instance's buffers are released asynchronously, so an immediate
        duckdb.connect() can itself die with a tiny bad-allocation (the
        r12 sf10 q_hashed_features run lost the whole pairing to a
        45 KB alloc failure inside fresh_con) — gc + backoff retries.
        r13: the r12 backoff (17.5 s total) was still not enough after
        a ~24 GB instance died mid-spill at sf10 (a 2 KB allocation
        failed on the final attempt); the ladder now waits up to ~2 min
        total and polls /proc/meminfo so it reconnects as soon as the
        kernel actually shows the memory back."""
        import gc

        try:
            old.close()
        except Exception:
            pass
        del old
        for delay in (0.5, 2.0, 5.0, 10.0, 20.0, 30.0, 60.0):
            gc.collect()
            time.sleep(delay)
            # Don't even try while the dying instance's pages are
            # still unreturned: a failed connect() can itself poison
            # allocator state. 8 GB comfortably covers a fresh
            # instance + the next query's warm pass start.
            if _meminfo_available_gb() < 8.0:
                continue
            try:
                return fresh_con()
            except duckdb.Error:
                continue
        return fresh_con()  # final attempt — let a real failure raise

    con = fresh_con()
    base_mem, retry_mem = _caps()
    ops = registry.load_all()
    total = 0.0
    demo_total = 0.0
    print(f"# DuckDB {duckdb.__version__} @ {sf_dir}")
    # DEMO queries are paired last; they count into TOTAL (mirroring
    # bench.py's contract-preserving payload) and a TOTAL_EX_DEMOS
    # line additionally reports the engine-only sum.
    for key, op_name in list(HEADLINE.items()) + list(DEMO.items()):
        is_demo = key in DEMO
        if only is not None and key not in only:
            continue
        # Bench-helper names (registry._BENCH_HELPERS, e.g. the
        # q_minhash_lsh production path) have no oracle BY DESIGN —
        # the registered contract op's oracle times the exact twin,
        # which is a different (quadratic) computation and would be
        # the dishonest pairing BASELINE.md's q_token_bucket
        # precedent bans.
        op = ops.get(op_name)
        sql = op.oracle if op is not None else None
        if sql is None:
            print(f"{key:<22} (no oracle)")
            continue
        note0 = ""
        if key == "q_json_ingested":
            # Same-work pairing (r12 verdict item 7): Spark's side of
            # this op is parse-once-at-ingest — the JSON parse happens
            # in the UNTIMED warm pass and the timed runs scan the
            # typed column. Pairing that against an oracle that
            # re-parses JSON inside the timed region would flatter
            # Spark, so the oracle gets the identical amortization: a
            # parse-once table built OUTSIDE the timed region, and the
            # timed SQL scans the typed column. The registry oracle
            # (used by the driver's correctness gate) is unchanged.
            try:
                con.execute(
                    "CREATE OR REPLACE TABLE params_ingested AS "
                    "SELECT event_type, CAST(json_extract_string(props,"
                    " '$.k') AS BIGINT) AS k_val FROM events"
                )
                sql = (
                    "SELECT event_type, round(avg(k_val), 4) AS avg_k,"
                    " count(*) AS n_events FROM params_ingested"
                    " GROUP BY event_type"
                )
                note0 = " (ingest-amortized: parse-once table untimed)"
            except duckdb.Error:
                con = _rebuild(con)
                note0 = " (WARNING ingest table failed; timing re-parse)"
        # An error on one query must not kill the whole pairing run
        # (r7/r9: q_hashed_features OOMs DuckDB materializing the
        # 500k x 1024 feature matrix at sf10; r12: the OOM can also
        # invalidate the connection so the NEXT query dies with a
        # FatalException the old OutOfMemoryException-only handler let
        # escape, silently truncating the pairing log). Catch every
        # duckdb error, rebuild the connection, and retry a capped OOM
        # once under a larger — still kernel-safe — limit, annotating
        # the line with the limit that produced the timed point.
        note = note0
        try:
            rows, med = _timed(con, sql)
        except duckdb.Error as e:
            con = _rebuild(con)
            if isinstance(e, duckdb.OutOfMemoryException):
                try:
                    con.execute(f"SET memory_limit='{retry_mem}'")
                    rows, med = _timed(con, sql)
                    note = note0 + f" ({retry_mem} limit)"
                except duckdb.Error as e2:
                    print(f"{key:<22} (OOM even at {retry_mem}: "
                          f"{str(e2)[:40]})")
                    con = _rebuild(con)
                    continue
                finally:
                    try:
                        con.execute(f"SET memory_limit='{base_mem}'")
                    except duckdb.Error:
                        pass
            else:
                print(f"{key:<22} (error: {str(e)[:60]})")
                continue
        total += med
        if is_demo:
            demo_total += med
            print(f"{key:<22} {med * 1000:8.1f} ms  rows={len(rows)}"
                  f" (demo){note}")
        else:
            print(f"{key:<22} {med * 1000:8.1f} ms  rows={len(rows)}{note}")
    print(f"{'TOTAL':<22} {total * 1000:8.1f} ms")
    print(f"{'TOTAL_EX_DEMOS':<22} {(total - demo_total) * 1000:8.1f} ms")


if __name__ == "__main__":
    main()
