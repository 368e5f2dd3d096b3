"""Read Spark's in-process status stores into plain dicts.

Two stores are used, both live without the web UI or an event log:
the application store (``SparkContext.statusStore``: jobs, stages and
their task metrics) and the SQL store (``SharedState.statusStore``:
one record per SQL execution with its job ids and physical plan).
Every read happens outside the timed region of an operation.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError


def _ms(option) -> float | None:
    """``scala.Option[java.util.Date]`` to epoch milliseconds."""
    return float(option.get().getTime()) if option.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class StatusReader:
    """Jobs, stages and SQL executions of one SparkSession."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._app = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self._sc.statusTracker()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def max_job_id(self) -> int:
        return max((j.jobId() for j in _seq(self._app.jobsList(None))), default=-1)

    def job_stage_ids(self, job_id: int) -> list[int]:
        return [int(s) for s in _seq(self._app.job(job_id).stageIds())]

    @staticmethod
    def _stage_record(s) -> dict | None:
        """One stage attempt that ran; None for a skipped stage (its
        shuffle output was reused, so it did no work)."""
        start = _ms(s.submissionTime())
        status = s.status().toString()
        if start is None or status == "SKIPPED":
            return None
        end = _ms(s.completionTime())
        return {
            "stage": s.stageId(),
            "attempt": s.attemptId(),
            "status": status,
            "start_ms": start,
            "end_ms": end if end is not None else start,
            "tasks": s.numTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
            "output_bytes": s.outputBytes(),
        }

    def _keyed(self, attempts) -> dict[tuple[int, int], dict]:
        recs = (self._stage_record(s) for s in attempts)
        return {(r["stage"], r["attempt"]): r for r in recs if r is not None}

    def stages(self, stage_ids) -> dict[tuple[int, int], dict]:
        """Every attempt that ran of the given stages, keyed by
        (stage, attempt)."""
        attempts = []
        for sid in sorted(set(stage_ids)):
            try:
                attempts += _seq(self._app.stageData(sid, False, None, False, None))
            except Py4JJavaError:
                continue  # never submitted
        return self._keyed(attempts)

    def all_stages(self) -> dict[tuple[int, int], dict]:
        """Snapshot of every stage attempt that ran so far."""
        jvm = self._sc._jvm
        every = jvm.java.util.ArrayList()  # no status filter
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        return self._keyed(
            _seq(self._app.stageList(every, False, False, no_quantiles, every))
        )

    def jobs_since(self, after_job_id: int) -> list[dict]:
        """Jobs with an id above ``after_job_id``."""
        out = []
        for j in _seq(self._app.jobsList(None)):
            if j.jobId() <= after_job_id:
                continue
            out.append(
                {
                    "job": j.jobId(),
                    "start_ms": _ms(j.submissionTime()),
                    "end_ms": _ms(j.completionTime()),
                }
            )
        return sorted(out, key=lambda j: j["job"])

    def execution_count(self) -> int:
        return self._sql.executionsCount()

    def executions_since(self, count: int) -> list[dict]:
        """SQL executions after the first ``count`` recorded."""
        total = self._sql.executionsCount()
        out = []
        for e in _seq(self._sql.executionsList(count, total - count)):
            jobs, it = [], e.jobs().keysIterator()
            while it.hasNext():
                jobs.append(int(it.next()))
            end = _ms(e.completionTime())
            out.append(
                {
                    "execution": e.executionId(),
                    "start_ms": float(e.submissionTime()),
                    "end_ms": end if end is not None else float(e.submissionTime()),
                    "jobs": sorted(jobs),
                    "plan": e.physicalPlanDescription(),
                }
            )
        return out
