"""Parser for Spark's JSON event log (uncompressed, non-rolling).

Maps the events of one application to per-job-group totals: jobs, stages,
tasks, failed tasks, executor run/CPU/GC time, shuffle and spill bytes,
stage wall time, and the Python-worker SQL metrics (``pythonTotalTime``,
``pythonBootTime``, ``pythonInitTime``, ``pythonDataSent``,
``pythonDataReceived``, ``pythonNumRowsReceived``). The Python metrics are
found by name in the SQL plan infos (``SparkListenerSQLExecutionStart`` and
the adaptive plan updates), then summed from the task-end accumulator
updates.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# Display names of the Python-worker SQL metrics (PythonSQLMetrics).
PY_TOTAL = "time to run Python workers"
PY_METRICS = {
    PY_TOTAL: "total_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "received_bytes",
    "number of output rows": "rows_received",
}
# SQL metric types whose values are times, and their unit in seconds
TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}

FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns",
          "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
          "spill_bytes", "stage_wall_ms", "total_s", "boot_s", "init_s",
          "sent_bytes", "received_bytes", "rows_received")


def _python_accumulators(plan: dict,
                         out: dict[int, tuple[str, float]]) -> None:
    """Collect accumulator id -> (field, scale) for every plan node that
    carries the Python-worker metric set (a node's own "number of output
    rows" is the rows it received back from Python)."""
    metrics = {m.get("name"): m for m in plan.get("metrics", [])}
    if PY_TOTAL in metrics:
        for name, field in PY_METRICS.items():
            m = metrics.get(name)
            if m is not None and m.get("accumulatorId") is not None:
                out[int(m["accumulatorId"])] = (
                    field, TIME_UNITS.get(m.get("metricType"), 1.0))
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def find_log(log_dir: str, app_id: str) -> str:
    """The finished (or, failing that, in-progress) log of ``app_id``."""
    for name in (app_id, app_id + ".inprogress"):
        p = os.path.join(log_dir, name)
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def parse(path: str) -> dict[str, dict[str, float]]:
    """Totals per job group (``None`` groups are keyed ``""``)."""
    stage_group: dict[int, str] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    task_acc: list[tuple[str, list]] = []
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "")
                rec = out[group]
                rec["stages"] += 1
                if info.get("Submission Time") and info.get(
                        "Completion Time"):
                    rec["stage_wall_ms"] += (info["Completion Time"]
                                             - info["Submission Time"])
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "")
                rec = out[group]
                rec["tasks"] += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed"):
                    rec["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                rec["run_ms"] += m.get("Executor Run Time", 0)
                rec["cpu_ns"] += m.get("Executor CPU Time", 0)
                rec["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written",
                                                     0)
                rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                task_acc.append((group, info.get("Accumulables") or []))
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    # Plan infos can arrive after the first tasks that update their
    # metrics (adaptive re-plans), so the accumulator updates are matched
    # once the whole log is read.
    for group, accs in task_acc:
        rec = out[group]
        for a in accs:
            hit = py_acc.get(a.get("ID"))
            if hit is not None:
                try:
                    rec[hit[0]] += float(a.get("Update", 0)) * hit[1]
                except (TypeError, ValueError):
                    pass
    return dict(out)


def total(groups: dict[str, dict[str, float]], keep) -> dict[str, float]:
    """Sum the records of every group for which ``keep(group)`` holds."""
    acc = dict.fromkeys(FIELDS, 0.0)
    for g, rec in groups.items():
        if keep(g):
            for k in FIELDS:
                acc[k] += rec[k]
    return acc
