"""Fold Spark's event log into per-layer numbers for one job group.

The traced session runs with ``spark.eventLog.enabled`` pointing into
the benchmark's work directory (uncompressed, so the JSON lines can be
read directly). Only jobs submitted under the given job group count:
their stages' task metrics and SQL metrics are summed, and the driver
side SQL metrics (job commit time) of their SQL executions are added.
Read the log after ``spark.stop()``, which drains the listener bus.

Summed task times are busy time across all cores, not wall time.
"""

from __future__ import annotations

import glob
import json
import statistics

# SQL metric names as Spark 4.1 reports them (ms unless bytes)
_PY_INIT = "time to initialize Python workers"
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_SCAN = "scan time"
_TASK_COMMIT = "task commit time"
_JOB_COMMIT = "job commit time"


def builder_conf(log_dir: str) -> dict:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false"}


def _events(log_dir: str):
    for path in sorted(glob.glob(f"{log_dir}/*/events_*")):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _plan_metric_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _plan_metric_names(child, out)


def fold(log_dir: str, group: str) -> dict:
    stages: set[int] = set()
    executions: set[int] = set()
    acc_names: dict[int, str] = {}
    driver: dict[str, float] = {}
    sql: dict[str, float] = {}
    shuffle_bytes = shuffle_write_ns = 0
    kernel_task_s: list[float] = []
    tasks = 0
    for e in _events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            if e.get("Properties", {}).get("spark.jobGroup.id") == group:
                stages.update(e["Stage IDs"])
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            if e.get("jobGroupId") == group:
                executions.add(e["executionId"])
                _plan_metric_names(e["sparkPlanInfo"], acc_names)
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in executions:
                _plan_metric_names(e["sparkPlanInfo"], acc_names)
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            if e["executionId"] in executions:
                for acc_id, value in e["accumUpdates"]:
                    name = acc_names.get(acc_id)
                    if name:
                        driver[name] = driver.get(name, 0) + int(value)
        elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            tasks += 1
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics", {})
            shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
            shuffle_write_ns += sw.get("Shuffle Write Time", 0)
            is_kernel = False
            for acc in info.get("Accumulables", ()):
                name, upd = acc.get("Name"), acc.get("Update")
                if acc.get("Metadata") == "sql" and upd is not None:
                    sql[name] = sql.get(name, 0) + int(upd)
                    is_kernel |= name == _PY_RUN
            if is_kernel:
                kernel_task_s.append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3)
    if not kernel_task_s:
        raise RuntimeError(f"event log in {log_dir} holds no kernel task "
                           f"for job group {group!r}")
    p50 = statistics.median(kernel_task_s)
    return {
        "operators.extract.python_init_s": sql.get(_PY_INIT, 0) / 1e3,
        "operators.extract.python_run_s": sql.get(_PY_RUN, 0) / 1e3,
        "operators.extract.arrow_bytes_in": sql.get(_PY_SENT, 0),
        "operators.extract.arrow_bytes_out": sql.get(_PY_RECV, 0),
        "plans.pipeline.tasks": len(kernel_task_s),
        "plans.pipeline.all_tasks": tasks,
        "plans.pipeline.task_s_p50": p50,
        "plans.pipeline.task_s_max": max(kernel_task_s),
        "plans.pipeline.task_skew": max(kernel_task_s) / p50 if p50 else 0.0,
        "plans.pipeline.shuffle_bytes": shuffle_bytes,
        "spark.scan_s": sql.get(_SCAN, 0) / 1e3,
        "spark.shuffle_write_s": shuffle_write_ns / 1e9,
        "spark.write_commit_s":
            (sql.get(_TASK_COMMIT, 0) + driver.get(_JOB_COMMIT, 0)) / 1e3,
    }
