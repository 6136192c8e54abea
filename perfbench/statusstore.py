"""Read Spark's own job, stage, task and SQL-node metrics per job group.

Nothing inside the engine is instrumented. The benchmark tags the jobs each
span launches with a job group (``tracing.Tracer``) and, after the timed
loop, reads two status stores that Spark keeps even with the UI disabled:

- the core store (``SparkContext.statusStore``): jobs with their group and
  submit/complete times, stages with executor CPU, GC, shuffle and spill
  totals, and every task's run time;
- the SQL store (``SharedState.statusStore``): per-plan-node metrics, among
  them the Python nodes' worker start and run times and the bytes sent to
  and returned from Python workers, and the scans' file counts.

Objects cross py4j as JSON written by the Jackson mapper Spark bundles, so
one store query is one py4j round trip however many fields it carries.
SQL-node values arrive formatted for display (``"1.2 MiB"``, ``"830 ms"``,
``"200,000"``) and are parsed back to numbers, to the display's precision.
"""

from __future__ import annotations

import json
import re
import statistics

from perfbench.tracing import covered_seconds

#: The per-span fields, in report order, with their units.
SPAN_FIELDS = {
    "wall_s": "s",
    "driver_s": "s",
    "spark_jobs": "count",
    "tasks": "count",
    "task_s_p50": "s",
    "task_s_max": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "B",
    "shuffle_wait_s": "s",
    "spill_bytes": "B",
    "python_boot_s": "s",
    "python_s": "s",
    "python_bytes": "B",
    "files_read": "count",
    "failed_tasks": "count",
}

#: Session settings that keep every job, stage and SQL execution of one
#: benchmark run in the stores until the run reads them.
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

# SQL-node metric name -> per-span field it adds to.
_SQL_FIELDS = {
    # Only the start time: for a reused worker Spark's "time to initialize
    # Python workers" was measured above the call's own wall time, so it
    # is not a cost the call paid.
    "time to start Python workers": "python_boot_s",
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "number of files read": "files_read",
}

_UNITS = {
    "": 1.0,
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric, in bytes, seconds or a count.

    Task-aggregated metrics read ``"total (min, med, max ...)\\n<total>
    (<min>, ...)"``; single values read ``"<value>"``.
    """
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class StatusStoreReader:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gateway = sc._gateway
        self._jvm = jvm
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._core.jobsList(None))

    def stage_attempts(self, stage_id: int) -> list[dict]:
        return self._json(
            self._core.stageData(
                stage_id,
                False,
                self._jvm.java.util.ArrayList(),
                False,
                self._gateway.new_array(self._jvm.double, 0),
            )
        )

    def task_run_seconds(self, stage_id: int, attempt: int, n_tasks: int) -> list[float]:
        tasks = self._json(self._core.taskList(stage_id, attempt, max(n_tasks, 1)))
        return [
            t["taskMetrics"]["executorRunTime"] / 1000.0
            for t in tasks
            if t.get("taskMetrics") is not None
        ]

    def sql_executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def execution_metrics(self, execution_id: int) -> dict[str, str]:
        return self._json(self._sql.executionMetrics(execution_id))

    def snapshot(self) -> "StoreSnapshot":
        return StoreSnapshot(self)


class StoreSnapshot:
    """The jobs and SQL executions in the stores at one moment, grouped by
    job group, with stage and SQL-node reads cached per id."""

    def __init__(self, reader: StatusStoreReader) -> None:
        self._reader = reader
        self.jobs_by_group: dict[str, list[dict]] = {}
        for job in reader.jobs():
            self.jobs_by_group.setdefault(job.get("jobGroup") or "", []).append(job)
        self._executions = reader.sql_executions()
        self._stage_cache: dict[int, list[dict]] = {}

    def _stages(self, stage_id: int) -> list[dict]:
        if stage_id not in self._stage_cache:
            self._stage_cache[stage_id] = self._reader.stage_attempts(stage_id)
        return self._stage_cache[stage_id]

    def span_metrics(self, instances: list[tuple[str, float, float]]) -> dict:
        """The 16 ``SPAN_FIELDS`` for one span name.

        ``instances`` holds one (job group, start, end) per call. Additive
        fields are means per call; ``task_s_p50``/``task_s_max`` are taken
        over every task of every call. ``driver_s`` is the part of a call's
        wall time that none of its own Spark jobs covers, so ``wall_s ==
        driver_s + covered`` holds per call and for the means.
        """
        out = dict.fromkeys(SPAN_FIELDS, 0.0)
        n = len(instances)
        if n == 0:
            return out
        task_seconds: list[float] = []
        job_ids: set[int] = set()
        stage_ids: set[int] = set()
        for group, start, end in instances:
            jobs = self.jobs_by_group.get(group, [])
            out["wall_s"] += end - start
            covered = covered_seconds(
                [
                    (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
                    for j in jobs
                    if j.get("submissionTime") and j.get("completionTime")
                ],
                start,
                end,
            )
            out["driver_s"] += end - start - covered
            out["spark_jobs"] += len(jobs)
            for j in jobs:
                job_ids.add(j["jobId"])
                stage_ids.update(j["stageIds"])
        for sid in sorted(stage_ids):
            for st in self._stages(sid):
                if st["status"] == "SKIPPED":
                    continue
                out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"] + st["numKilledTasks"]
                out["failed_tasks"] += st["numFailedTasks"]
                out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1000.0
                out["shuffle_bytes"] += st["shuffleWriteBytes"]
                out["shuffle_wait_s"] += st["shuffleFetchWaitTime"] / 1000.0
                out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                task_seconds += self._reader.task_run_seconds(
                    sid, st["attemptId"], st["numTasks"]
                )
        for field, value in self._sql_totals(job_ids).items():
            out[field] += value
        for key in out:
            if key not in ("task_s_p50", "task_s_max"):
                out[key] /= n
        if task_seconds:
            out["task_s_p50"] = statistics.median(task_seconds)
            out["task_s_max"] = max(task_seconds)
        return out

    def python_boot_s(self, groups: list[str]) -> float:
        """Total Python worker start time of the Spark jobs of ``groups``."""
        job_ids = {j["jobId"] for g in groups for j in self.jobs_by_group.get(g, [])}
        return self._sql_totals(job_ids).get("python_boot_s", 0.0)

    def _sql_totals(self, job_ids: set[int]) -> dict[str, float]:
        """``_SQL_FIELDS`` summed over the SQL executions that ran any of
        ``job_ids``."""
        out: dict[str, float] = {}
        for ex in self._executions:
            if not job_ids.intersection(int(k) for k in (ex.get("jobs") or {})):
                continue
            names = {str(m["accumulatorId"]): m["name"] for m in ex["metrics"]}
            values = self._reader.execution_metrics(ex["executionId"])
            for acc_id, text in values.items():
                field = _SQL_FIELDS.get(names.get(acc_id, ""))
                if field is not None:
                    out[field] = out.get(field, 0.0) + parse_sql_metric(text)
        return out
