"""Parse an uncompressed, non-rolling Spark event log into per-job metrics.

The traced run records which Spark job ids each phase started (read back
from ``statusTracker`` under the job group the benchmark set).  This module
turns the event log into, per job id:

* ``stages`` / ``tasks``: completed stages and their task counts (skipped
  stages never complete, so they are not counted);
* stage task metrics summed over those stages: ``executorRunTime`` (ms),
  ``shuffle.write.bytesWritten`` and ``memoryBytesSpilled`` (bytes);
* SQL metrics of the Python-boundary operators (MapInPandas, MapInArrow):
  "time to run Python workers" (ms) and "data sent to Python workers"
  (bytes).  A SQL metric accumulator is cumulative over every stage that
  updates it, so each accumulator counts once, at its largest value, for the
  job whose stage first reported it.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

TASK_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
}
SQL_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "to_python_bytes",
}
FIELDS = ("stages", "tasks", *TASK_METRICS.values(), *SQL_METRICS.values())


def find_log(log_dir: str) -> str:
    """The single application log in ``log_dir`` (finished or in progress)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def job_metrics(path: str) -> dict[int, dict[str, float]]:
    """job id → {field: value} for every job in the log."""
    stage_job: dict[int, int] = {}
    out: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    sql_acc: dict[int, tuple[int, str, float]] = {}  # acc id → (job, field, max value)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                out[job]  # jobs with no completed stage still appear
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = stage_job.get(info["Stage ID"])
                if job is None or "Completion Time" not in info:
                    continue
                rec = out[job]
                rec["stages"] += 1
                rec["tasks"] += info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in TASK_METRICS:
                        rec[TASK_METRICS[name]] += _num(acc.get("Value"))
                    elif name in SQL_METRICS:
                        aid, val = acc["ID"], _num(acc.get("Value"))
                        prev = sql_acc.get(aid)
                        if prev is None:
                            sql_acc[aid] = (job, SQL_METRICS[name], val)
                        elif val > prev[2]:
                            sql_acc[aid] = (prev[0], prev[1], val)
    for job, field, val in sql_acc.values():
        out[job][field] += val
    return dict(out)


def sum_jobs(metrics: dict[int, dict[str, float]], jobs) -> dict[str, float]:
    """Field-wise sum over ``jobs`` (ids absent from the log count as 0)."""
    total = dict.fromkeys(FIELDS, 0.0)
    for j in jobs:
        for k, v in metrics.get(j, {}).items():
            total[k] += v
    return total
