"""Per-layer trace: read from outside the program, per op.

Each op of a traced pass runs under its own Spark job group. Right after the
op's sink returns, ``Tracer.end`` drains the listener bus and reads

- the ``AppStatusStore`` (jobs of the group, then each job's last stage
  attempts): jobs, stages, tasks, failed tasks, executor run / CPU / GC time,
  input, output, shuffle and spill bytes, and the job spans;
- the ``SQLAppStatusStore`` (the executions started since the previous op):
  the SQL ``scan time`` and Python-worker start / run metrics, taken from the
  plan graph rendered with its final metric values.

``KernelProbe`` times the pursuit kernels driver-locally on the workload's
own plays, with ``solve_optimal_path`` wrapped so its calls are counted.
"""

from __future__ import annotations

import re
import time

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SQL_TIMERS = {
    "scan time": "sources.scan_time_s",
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.start_s",
}
# "name: 12 ms" for single-task values, "name total (min, med, max (...))<br>
# 1.2 s (...)" once several tasks reported
_SQL_TIMER_RE = re.compile(
    r"(scan time|time to run Python workers|time to start Python workers)"
    r"(?::\s*|\s+total \(min, med, max \(stageId: taskId\)\)<br>)"
    r"([\d.,]+)\s*(ms|min|s|m|h)\b"
)

STAGE_FIELDS = {
    "spark.executor_run_s": lambda sd: sd.executorRunTime() / 1e3,
    "spark.executor_cpu_s": lambda sd: sd.executorCpuTime() / 1e9,
    "spark.gc_s": lambda sd: sd.jvmGcTime() / 1e3,
    "spark.shuffle_read_bytes": lambda sd: sd.shuffleReadBytes(),
    "spark.shuffle_write_bytes": lambda sd: sd.shuffleWriteBytes(),
    "spark.spill_bytes": lambda sd: sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    "sources.bytes_read": lambda sd: sd.inputBytes(),
    "sources.bytes_written": lambda sd: sd.outputBytes(),
}


def sql_timers(dot: str) -> dict[str, float]:
    """Sum the SQL timing metrics named in ``_SQL_TIMERS`` over one
    execution's rendered plan graph, in seconds."""
    out = dict.fromkeys(_SQL_TIMERS.values(), 0.0)
    for name, value, unit in _SQL_TIMER_RE.findall(dot):
        out[_SQL_TIMERS[name]] += float(value.replace(",", "")) * _UNIT_S[unit]
    return out


def _epoch_s(opt_date) -> float | None:
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


class Tracer:
    """Reads Spark's status stores around each op of a traced pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.bus.waitUntilEmpty(10_000)
        self.last_exec = self._max_execution_id()
        self.n_groups = 0

    def _max_execution_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(n - 1, 1).apply(0).executionId()

    def begin(self, op_name: str) -> str:
        self.n_groups += 1
        group = f"bench-op-{self.n_groups}"
        self.sc.setJobGroup(group, op_name)
        return group

    def end(self, group: str) -> dict:
        """Layer counters and job spans of the op that ran under ``group``."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.bus.waitUntilEmpty(10_000)
        rec: dict = dict.fromkeys(
            ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks"], 0
        )
        rec.update(dict.fromkeys(STAGE_FIELDS, 0))
        jobs = []
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.app.job(job_id)
            rec["spark.jobs"] += 1
            rec["spark.failed_tasks"] += jd.numFailedTasks()
            stage_ids = jd.stageIds()
            ran = 0
            for i in range(stage_ids.size()):
                sd = self.app.lastStageAttempt(stage_ids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                ran += 1
                rec["spark.tasks"] += sd.numTasks()
                for k, get in STAGE_FIELDS.items():
                    rec[k] += get(sd)
            rec["spark.stages"] += ran
            jobs.append(
                {
                    "job": job_id,
                    "start": _epoch_s(jd.submissionTime()),
                    "end": _epoch_s(jd.completionTime()),
                    "stages": ran,
                    "tasks": jd.numTasks(),
                }
            )
        rec.update(dict.fromkeys(_SQL_TIMERS.values(), 0.0))
        top = self._max_execution_id()
        for eid in range(self.last_exec + 1, top + 1):
            if not self.sql.execution(eid).isDefined():
                continue
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            for k, v in sql_timers(dot).items():
                rec[k] += v
        self.last_exec = max(self.last_exec, top)
        rec["jobs"] = jobs
        return rec


class KernelProbe:
    """Driver-local pursuit kernels over the season's plays, with every
    ``solve_optimal_path`` call counted and timed."""

    def __init__(self):
        from nfl_big_data_bowl_2024_spark.kernels import yap

        self.yap = yap
        self.solves = 0
        self.solve_s = 0.0

    def _counted(self, fn):
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.solve_s += time.perf_counter() - t0
                self.solves += 1

        return wrapped

    def run(self, groups: list) -> dict:
        yap = self.yap
        plain = yap.solve_optimal_path
        yap.solve_optimal_path = self._counted(plain)
        try:
            t0 = time.perf_counter()
            rows = [yap.yap_play_kernel(g) for g in groups]
            t1 = time.perf_counter()
            for g in groups:
                yap.max_params_play_kernel(g)
            t2 = time.perf_counter()
        finally:
            yap.solve_optimal_path = plain
        resolved = sum(
            int(((r["status"] == "ok") & r["YAP"].notna()).sum()) for r in rows
        )
        n = len(groups)
        return {
            "kernels.yap_play_ms": (t1 - t0) * 1e3 / n,
            "kernels.max_params_play_ms": (t2 - t1) * 1e3 / n,
            "kernels.lqr_solves_per_play": self.solves / n,
            "kernels.lqr_solve_ms": self.solve_s * 1e3 / max(self.solves, 1),
            "kernels.feasible_per_solve": resolved / max(self.solves, 1),
            "kernels.plays": n,
            "kernels.yap_total_s": t1 - t0,
        }
