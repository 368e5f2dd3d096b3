"""The benchmark's workloads, driven through the engine's public entry
points from one Python process and one closed-loop client (the next
operation starts when the previous one returns).

- ``serve_prepared``: operators executed through
  ``registry.prepared_frame`` (frames built once, during set-up) into
  the ``noop`` sink.
- ``collect``: ``collector.run_collection``, one full collection of
  every artifact per operation, in a fresh session.

DESIGN.md next to this file records why each workload exists, which
operators it runs and which end-to-end metric each layer metric should
move. All timing happens here, around calls into the engine; the engine
itself is not modified.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

from measure import (
    artifact_segments,
    attribute_execution,
    latency_summary,
    stage_cover,
    stage_delta,
    stage_totals,
)

#: Operators of bench.py's HEADLINE map that ``serve_prepared`` runs:
#: the ones whose steady execution dominates their build, spread over
#: every operator family (llm 3, operators 3, catalog, functions and
#: streaming 1 each).
SERVE_PREPARED_OPS = [
    "text_naive_bayes_lang",
    "text_dup_ngram_coverage",
    "sim_semdedup",
    "tpch_q2_min_cost_supplier",
    "join_skew_unsalted",
    "win_autocorr_profile",
    "cat_lineage_closure",
    "fn_json_extract",
    "stream_session_windows",
]

#: Scale factor of the generated tables per workload.
SCALE = {"serve_prepared": 0.01, "collect": 0.01}

FAMILIES = ("operators", "functions", "llm", "catalog", "streaming")

#: Timed passes per run, at the least. The passes still drift faster
#: (JIT), so runs must not differ in how many they time.
MIN_PASSES = 5

#: Untimed passes before the timed ones. The first pass in a fresh JVM
#: pays the one-off costs (first query, first Python worker, code
#: generation of every plan): 15-25 s against 4-6 s for the next.
WARM_PASSES = 2

PER_LAYER = (
    "session.start_s",
    "registry.prepare_s",
    "registry.build_s",
    "registry.build_jobs",
    "catalyst.plan_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.run_s",
    "spark.cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.output_mb",
    "spark.core_util",
    "spark.stage_cover",
    "spark.unattributed_s",
    *(f"{f}.wall_s" for f in FAMILIES),
    "collector.write_s",
    "collector.reread_s",
    "collector.reread_jobs",
    "collector.out_mb",
    "collector.files",
    "collector.rows",
    "process.peak_rss_mb",
    "trace.pass_s",
)

_MB = 1 << 20


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory; a disabled
    tracer hands out span records but keeps none."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, op: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "op": op,
            "start_ms": time.time() * 1000,
            "end_ms": None,
        }
        if self.enabled:
            self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000

    def add(self, name, parent, op, start_ms, end_ms, **extra) -> None:
        """Record a span whose times come from Spark's status store."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent,
                 "op": op, "start_ms": start_ms, "end_ms": end_ms, **extra}
            )


@dataclass
class Context:
    spark: object
    sf_dir: str
    seed: int
    seconds: float
    cores: int
    out_dir: str
    tracer: Tracer
    reader: object | None  # spark_status.StatusReader when tracing
    setup_start: float
    setup_layers: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float
    latencies: list[float]
    pass_walls: list[float]
    attempted: int
    failed: int
    layers: dict[str, float]
    retained_mb: float
    info: dict
    records: list[dict]


def _family(ops: dict, name: str) -> str:
    return ops[name].fn.__module__.split(".")[1]


def _proc_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith(field + ":"))


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_proc_kb(jvm_pid, "VmHWM") + _proc_kb(os.getpid(), "VmHWM")) / 1024


def retained_mb(spark) -> float:
    """Heap the driver JVM still holds after a full GC, plus the resident
    set of this process: the memory the program's caches keep."""
    jvm = spark._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / _MB + _proc_kb(os.getpid(), "VmRSS") / 1024


def _execute(df) -> None:
    """Materialise every output column of every row (bench.py protocol)."""
    df.write.format("noop").mode("overwrite").save()


def _median_layers(per_pass: list[dict]) -> dict[str, float]:
    return {k: median([p[k] for p in per_pass]) for k in per_pass[0]}


def _layer_row(**values) -> dict[str, float]:
    row = {name: 0.0 for name in PER_LAYER}
    row.update(values)
    return row


def _stage_layers(stages: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    t = stage_totals(stages)
    return {
        "spark.stages": t["stages"],
        "spark.tasks": t["tasks"],
        "spark.run_s": t["run_ms"] / 1000,
        "spark.cpu_s": t["cpu_ns"] / 1e9,
        "spark.gc_s": t["gc_ms"] / 1000,
        "spark.shuffle_write_mb": t["shuffle_write_bytes"] / _MB,
        "spark.spill_mb": t["spill_bytes"] / _MB,
        "spark.output_mb": t["output_bytes"] / _MB,
        "spark.core_util": t["run_ms"] / 1000 / (wall_s * cores) if wall_s else 0.0,
    }


class ServePrepared:
    """One operation executes one operator's prepared frame."""

    def __init__(self, ctx: Context):
        from hive_metadata_collect_spark import registry

        self.ctx, self.registry = ctx, registry
        self.ops = SERVE_PREPARED_OPS
        self.families = {n: _family(registry.load_all(), n) for n in self.ops}
        self.rng = random.Random(ctx.seed)

    def _frame(self, name: str):
        return self.registry.prepared_frame(self.ctx.spark, name, self.ctx.sf_dir)

    def setup(self) -> list[float]:
        """Build the prepared frames, then run the warm passes. Returns the
        warm pass walls."""
        tr, ctx = self.ctx.tracer, self.ctx
        with tr.span("registry.prepare") as sp:
            for name in self.ops:
                with tr.span("registry.prepared_frame", sp["id"], name):
                    self._frame(name)
        ctx.setup_layers["registry.prepare_s"] = (sp["end_ms"] - sp["start_ms"]) / 1000
        with tr.span("warmup") as sp:
            walls = [self.run_pass(f"w{i}", False, sp["id"])[0] for i in range(WARM_PASSES)]
        ctx.spark._jvm.System.gc()
        return walls

    def run_pass(self, pass_id: str, traced: bool, parent: int | None = None):
        """One pass over every operator in a seed-permuted order. Returns
        (pass wall seconds, per-operator records)."""
        tr, sc = self.ctx.tracer, self.ctx.spark.sparkContext
        records = []
        order = self.rng.sample(self.ops, len(self.ops))
        t_pass = time.perf_counter()
        with tr.span("pass", parent, pass_id) as ps:
            for name in order:
                op_id = f"{pass_id}:{name}"
                rec = {"op": name, "op_id": op_id, "family": self.families[name], "ok": True}
                t0 = time.perf_counter()
                with tr.span("op", ps["id"], op_id) as sp:
                    try:
                        if traced:
                            sc.setJobGroup(f"{op_id}|build", "build")
                        with tr.span("registry.prepared_frame", sp["id"], op_id) as b:
                            df = self._frame(name)
                        rec["build_s"] = (b["end_ms"] - b["start_ms"]) / 1000
                        if traced:
                            sc.setJobGroup(f"{op_id}|plan", "plan")
                            with tr.span("catalyst.plan", sp["id"], op_id) as p:
                                df.select("*")._jdf.queryExecution().executedPlan()
                            rec["plan_s"] = (p["end_ms"] - p["start_ms"]) / 1000
                            sc.setJobGroup(f"{op_id}|exec", "exec")
                        with tr.span("spark.execute", sp["id"], op_id):
                            _execute(df)
                    except Exception as exc:  # counted as failed, run goes on
                        rec["ok"], rec["error"] = False, repr(exc)[:500]
                rec["latency_s"] = time.perf_counter() - t0
                rec["start_ms"], rec["end_ms"] = sp["start_ms"], sp["end_ms"]
                records.append(rec)
        return time.perf_counter() - t_pass, records

    def attach_stages(self, records: list[dict]) -> None:
        """Give each traced operator its jobs and stages, by job group."""
        reader = self.ctx.reader
        for rec in records:
            jobs = {ph: reader.job_ids(f"{rec['op_id']}|{ph}") for ph in ("build", "plan", "exec")}
            stage_ids = [s for ids in jobs.values() for j in ids for s in reader.job_stage_ids(j)]
            stages = list(reader.stages(stage_ids).values())
            covered, unattributed = stage_cover(
                [(s["start_ms"], s["end_ms"]) for s in stages], rec["start_ms"], rec["end_ms"]
            )
            rec.update(
                build_jobs=len(jobs["build"]),
                jobs=sum(len(v) for v in jobs.values()),
                stages=stages,
                covered_s=covered / 1000,
                unattributed_s=unattributed / 1000,
            )

    def pass_layers(self, wall: float, records: list[dict]) -> dict[str, float]:
        walls = sum(r["latency_s"] for r in records)
        covered = sum(r["covered_s"] for r in records)
        stages = [s for r in records for s in r["stages"]]
        row = _layer_row(
            **{
                "registry.build_s": sum(r.get("build_s", 0.0) for r in records),
                "registry.build_jobs": sum(r["build_jobs"] for r in records),
                "catalyst.plan_s": sum(r.get("plan_s", 0.0) for r in records),
                "spark.jobs": sum(r["jobs"] for r in records),
                "spark.unattributed_s": sum(r["unattributed_s"] for r in records),
                "spark.stage_cover": covered / walls if walls else 0.0,
                "trace.pass_s": wall,
            },
            **_stage_layers(stages, walls, self.ctx.cores),
        )
        for fam in FAMILIES:
            row[f"{fam}.wall_s"] = sum(r["latency_s"] for r in records if r["family"] == fam)
        return row

    def measure(self) -> tuple[list[float], list[dict], list[dict]]:
        """Passes until ``seconds`` of timed wall have elapsed, and at
        least MIN_PASSES. Returns pass walls, operator records and
        per-pass layers."""
        ctx, traced = self.ctx, self.ctx.tracer.enabled
        walls, records, layers = [], [], []
        while len(walls) < MIN_PASSES or sum(walls) < ctx.seconds:
            wall, recs = self.run_pass(f"p{len(walls)}", traced)
            walls.append(wall)
            records.extend(recs)
            if traced:
                self.attach_stages(recs)
                layers.append(self.pass_layers(wall, recs))
        return walls, records, layers

    def check(self, con) -> dict[str, str]:
        """Compare every operator's output with its DuckDB oracle; returns
        the operators that failed, with the reason."""
        from hive_metadata_collect_spark.testing import compare_frames

        oracles = self.registry.oracle_sql()
        bad = {}
        for name in self.ops:
            try:
                compare_frames(self._frame(name), con, oracles[name])
            except Exception as exc:  # a mismatch is a result, not a crash
                bad[name] = repr(exc)[:500]
        return bad


class Collect:
    """One operation is one ``collector.run_collection`` into a fresh
    output directory."""

    def __init__(self, ctx: Context):
        from hive_metadata_collect_spark import collector, registry

        self.ctx, self.collector, self.registry = ctx, collector, registry
        self.order = list(collector.ARTIFACTS)

    def setup(self) -> list[float]:
        return []  # a scheduled collection starts from a fresh session

    def _collect_once(self, index: int) -> dict:
        ctx, reader, traced = self.ctx, self.ctx.reader, self.ctx.tracer.enabled
        out = os.path.join(ctx.out_dir, f"collection{index}")
        c = {"index": index, "out": out}
        if traced:
            n_exec, first_job = reader.execution_count(), reader.max_job_id()
            stages_before = reader.all_stages()
        t0 = time.perf_counter()
        manifest = None
        with ctx.tracer.span("collector.run_collection", None, f"c{index}") as sp:
            try:
                manifest = self.collector.run_collection(ctx.spark, ctx.sf_dir, out)
            except Exception as exc:  # its artifacts count as failed, run goes on
                c["error"] = repr(exc)[:500]
        c["wall"], c["span"] = time.perf_counter() - t0, sp
        if traced:
            paths = {a: os.path.abspath(os.path.join(out, a)) for a in self.order}
            c["executions"] = []
            for ex in reader.executions_since(n_exec):
                hit = attribute_execution(ex["plan"], paths)
                if hit and ex["start_ms"] <= sp["end_ms"]:
                    ex["kind"], ex["artifact"] = hit
                    c["executions"].append(ex)
            c["segments"] = artifact_segments(sp["start_ms"], self.order, c["executions"])
            c["jobs"] = reader.jobs_since(first_job)
            c["stages"] = stage_delta(stages_before, reader.all_stages())
        rows = manifest.collect() if manifest is not None else []
        c["manifest"] = [r.asDict() for r in rows]
        return c

    def layers(self, c: dict) -> dict[str, float]:
        ctx, tr, sp = self.ctx, self.ctx.tracer, c["span"]
        jobs = [j for j in c["jobs"] if j["start_ms"] <= sp["end_ms"]]
        stages = [s for s in c["stages"] if s["start_ms"] <= sp["end_ms"]]
        covered, unattributed = stage_cover(
            [(s["start_ms"], s["end_ms"]) for s in stages], sp["start_ms"], sp["end_ms"]
        )
        attributed_jobs = {j for ex in c["executions"] for j in ex["jobs"]}
        rereads = [ex for ex in c["executions"] if ex["kind"] == "reread"]
        files = out_bytes = 0
        for root, _dirs, names in os.walk(c["out"]):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    out_bytes += os.path.getsize(os.path.join(root, name))
        seg = c["segments"]
        for artifact, s in seg.items():
            tr.add("artifact", sp["id"], artifact, s["start_ms"], s["end_ms"])
        for ex in c["executions"]:
            tr.add(f"collector.{ex['kind']}", sp["id"], ex["artifact"], ex["start_ms"],
                   ex["end_ms"], execution=ex["execution"], jobs=ex["jobs"])
        wall_s = c["wall"]
        return _layer_row(
            **{
                "registry.build_s": sum(s["build_ms"] for s in seg.values()) / 1000,
                "registry.build_jobs": sum(1 for j in jobs if j["job"] not in attributed_jobs),
                "spark.jobs": len(jobs),
                "spark.unattributed_s": unattributed / 1000,
                "spark.stage_cover": covered / (sp["end_ms"] - sp["start_ms"]),
                "catalog.wall_s": sum(s["end_ms"] - s["start_ms"] for s in seg.values()) / 1000,
                "collector.write_s": sum(s["write_ms"] for s in seg.values()) / 1000,
                "collector.reread_s": sum(s["reread_ms"] for s in seg.values()) / 1000,
                "collector.reread_jobs": sum(len(ex["jobs"]) for ex in rereads),
                "collector.out_mb": out_bytes / _MB,
                "collector.files": files,
                "collector.rows": sum(r["n_rows"] for r in c["manifest"]),
                "trace.pass_s": wall_s,
            },
            **_stage_layers(stages, wall_s, ctx.cores),
        )

    def measure(self) -> tuple[list[float], list[dict], list[dict]]:
        walls, collections, layers = [], [], []
        while not walls or sum(walls) < self.ctx.seconds:
            c = self._collect_once(len(walls))
            walls.append(c["wall"])
            collections.append(c)
            if self.ctx.tracer.enabled:
                layers.append(self.layers(c))
        self.collections = collections
        records = [
            {"op": "run_collection", "collection": c["index"], "latency_s": c["wall"],
             **({"error": c["error"]} if "error" in c else {})}
            for c in collections
        ]
        return walls, records, layers

    def check(self, con) -> dict[str, str]:
        """Every collection's manifest must list every artifact, and each
        artifact read back must equal its operator's DuckDB oracle."""
        from hive_metadata_collect_spark.testing import compare_frames

        oracles = self.registry.oracle_sql()
        bad = {}
        for c in self.collections:
            listed = {r["artifact"]: r for r in c["manifest"]}
            for artifact, op in self.collector.ARTIFACTS.items():
                key = f"c{c['index']}:{artifact}"
                row = listed.get(artifact)
                if row is None:
                    bad[key] = "missing from the manifest"
                    continue
                try:
                    compare_frames(
                        self.ctx.spark.read.parquet(row["path"]), con, oracles[op]
                    )
                except Exception as exc:  # a mismatch is a result, not a crash
                    bad[key] = repr(exc)[:500]
        return bad


def run(workload: str, ctx: Context, duck_connect) -> Outcome:
    """Set up, measure and check one workload in the session of ``ctx``."""
    w = Collect(ctx) if workload == "collect" else ServePrepared(ctx)
    warm = w.setup()
    setup_s = time.perf_counter() - ctx.setup_start
    walls, records, per_pass = w.measure()
    # before DuckDB adds to this process
    peak, retained = peak_rss_mb(ctx.spark), retained_mb(ctx.spark)

    con = duck_connect(ctx.sf_dir)
    try:
        bad = w.check(con)
    finally:
        con.close()

    if workload == "collect":  # checked per artifact
        attempted = len(w.collector.ARTIFACTS) * len(walls)
        failed = len(bad)
    else:
        attempted = len(records)
        failed = sum(1 for r in records if not r["ok"] or r["op"] in bad)
    layers = {}
    if per_pass:
        layers = _median_layers(per_pass)
        layers.update(ctx.setup_layers)
        layers["process.peak_rss_mb"] = peak
    info = {
        "warm_walls_s": warm,
        "passes": len(walls),
        "pass_walls_s": walls,
        "ops_per_pass": len(records) // len(walls),
        "peak_rss_mb": peak,
        "check_failures": bad,
        "errors": {r["op"]: r["error"] for r in records if r.get("error")},
        "latency": latency_summary([r["latency_s"] for r in records]),
    }
    return Outcome(
        setup_s=setup_s,
        latencies=[r["latency_s"] for r in records],
        pass_walls=walls,
        attempted=attempted,
        failed=failed,
        layers=layers,
        retained_mb=retained,
        info=info,
        records=records,
    )
