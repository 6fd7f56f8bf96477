"""Spark's own counters, read from outside the engine.

Jobs, stages and task metrics come from the application status store
through the REST API of the driver UI (the same surface
``jobs/stageprof_r08.py`` reads). The UI runs on an ephemeral port and
only in traced runs. Counters are attributed to a job group: the
benchmark gives each span its own group before calling into the
program, so every job the call triggers (AQE query stages and
broadcasts included) lands in that span.

Python crossings are counted from the executed plan: each
ArrowEvalPython, BatchEvalPython, MapInPandas/MapInArrow or
FlatMapGroupsInPandas node is one hand-off to a Python worker.
"""

from __future__ import annotations

import json
import re
import urllib.request
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession

UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}

_PY_NODE = re.compile(
    r"^[\s:+\-*|]*(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas)\b",
    re.M,
)

COUNTERS = (
    "jobs", "stages", "tasks", "task_failures", "executor_run_s",
    "executor_cpu_s", "gc_s", "scheduler_delay_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes",
)


def python_crossings(df: DataFrame) -> int:
    """Python-worker nodes in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_PY_NODE.findall(plan))


class StatusStore:
    """REST reader over the live application's status store."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is off; start the session with UI_CONF")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read())

    def by_group(self) -> dict[str, dict]:
        """Counters per job group. A stage listed by several jobs (a
        reused shuffle) is attributed once, to the first job that ran
        it."""
        jobs = sorted(self._get("/jobs"), key=lambda j: j["jobId"])
        stages = self._get("/stages?details=true")
        owner: dict[int, str | None] = {}
        out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
        for j in jobs:
            g = j.get("jobGroup")
            out[g]["jobs"] += 1
            for sid in j["stageIds"]:
                owner.setdefault(sid, g)
        for st in stages:
            if st["status"] == "SKIPPED" or st["stageId"] not in owner:
                continue
            c = out[owner[st["stageId"]]]
            c["stages"] += 1
            c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            c["task_failures"] += st["numFailedTasks"]
            c["executor_run_s"] += st["executorRunTime"] / 1e3
            c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            c["gc_s"] += st["jvmGcTime"] / 1e3
            c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            c["shuffle_read_bytes"] += st["shuffleReadBytes"]
            c["spill_bytes"] += st["diskBytesSpilled"]
            c["scheduler_delay_s"] += sum(
                t.get("schedulerDelay", 0) for t in (st.get("tasks") or {}).values()
            ) / 1e3
        return dict(out)

    def task_rows_written(self, group: str) -> list[int]:
        """Per-task output records of every stage that wrote rows in
        ``group`` (the write tasks of a committed stage)."""
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        sids = {sid for j in jobs for sid in j["stageIds"]}
        rows = []
        for st in self._get("/stages?details=true"):
            if st["stageId"] in sids and st.get("outputRecords", 0) > 0:
                rows.extend(
                    t["taskMetrics"]["outputMetrics"]["recordsWritten"]
                    for t in (st.get("tasks") or {}).values()
                    if t.get("status") == "SUCCESS"
                )
        return rows
