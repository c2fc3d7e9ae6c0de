"""Fold a Spark 4.1 event log into per-job-group layer totals.

Three traps of the 4.1 log, handled here and by the session settings:

* the log must be written plain and in one file
  (``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``);
* operator (SQL) metrics are declared in ``sparkPlanInfo`` on both
  ``SQLExecutionStart`` and ``SQLAdaptiveExecutionUpdate`` — the codegen
  nodes only appear in the adaptive updates;
* task-level GC time and spill are in the ``StageCompleted`` accumulables.

A SQL metric's accumulable value on a stage is the accumulator's running
total, so each accumulator counts once, with the largest value seen.

``codegen_share`` is the summed ``duration`` of every WholeStageCodegen
node over the executor run time.  Where one stage holds two codegen
pipelines on either side of a Python operator, the outer one's duration
includes the inner one's, so the share can exceed 1.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

# stage accumulables (per-stage task totals)
_TASK = {
    "internal.metrics.executorRunTime": ("run_ms", 1),
    "internal.metrics.jvmGCTime": ("gc_ms", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.write.writeTime": ("shuffle_write_ns", 1),
}
# SQL operator metrics, by metric name
_SQL = {
    "data sent to Python workers": "python_in_bytes",
    "time to run Python workers": "python_ms",
}
_SQL_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _codegen_accs(plan: dict, out: set) -> None:
    if plan["nodeName"].startswith("WholeStageCodegen"):
        out.update(m["accumulatorId"] for m in plan["metrics"] if m["name"] == "duration")
    for child in plan["children"]:
        _codegen_accs(child, out)


def fold(path: Path) -> dict:
    """{job_group: {metric: total}} plus per-stage task durations under
    ``_tasks`` ({group: {stage_id: [task ms]}})."""
    stage_group: dict = {}
    codegen: set = set()
    acc_value: dict = {}
    acc_group: dict = {}
    acc_name: dict = {}
    groups: dict = defaultdict(lambda: defaultdict(float))
    tasks: dict = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                groups[g]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
            elif kind in _SQL_EVENTS:
                _codegen_accs(e["sparkPlanInfo"], codegen)
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                g = stage_group.get(e["Stage ID"], "-")
                tasks[g][e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                g = stage_group.get(si["Stage ID"], "-")
                groups[g]["stages"] += 1
                groups[g]["tasks"] += si["Number of Tasks"]
                for a in si["Accumulables"]:
                    name = a.get("Name")
                    if name in _TASK:
                        groups[g][_TASK[name][0]] += float(a["Value"])
                    else:
                        aid = a["ID"]
                        v = float(a["Value"]) if _is_number(a.get("Value")) else 0.0
                        if aid not in acc_group:
                            acc_group[aid] = g
                            acc_name[aid] = name
                        acc_value[aid] = max(acc_value.get(aid, 0.0), v)
    for aid, v in acc_value.items():
        g = acc_group[aid]
        if aid in codegen:
            groups[g]["codegen_ms"] += v
        elif acc_name[aid] in _SQL:
            groups[g][_SQL[acc_name[aid]]] += v
    out = {g: dict(m) for g, m in groups.items()}
    out["_tasks"] = {g: dict(s) for g, s in tasks.items()}
    return out


def _is_number(v) -> bool:
    try:
        float(v)
    except (TypeError, ValueError):
        return False
    return True


def totals(folded: dict, prefix: str = "") -> dict:
    """Sum the folded metrics over every job group starting with ``prefix``."""
    out: dict = defaultdict(float)
    for g, m in folded.items():
        if g != "_tasks" and g.startswith(prefix):
            for k, v in m.items():
                out[k] += v
    return dict(out)


def layer(m: dict) -> dict:
    """Unit conversion of a folded total into the reported layer metrics."""
    run_ms = m.get("run_ms", 0.0)
    return {
        "jobs": m.get("jobs", 0.0),
        "stages": m.get("stages", 0.0),
        "tasks": m.get("tasks", 0.0),
        "shuffle_write_bytes": m.get("shuffle_write_bytes", 0.0),
        "shuffle_write_s": m.get("shuffle_write_ns", 0.0) / 1e9,
        "python_in_bytes": m.get("python_in_bytes", 0.0),
        "python_s": m.get("python_ms", 0.0) / 1e3,
        "gc_s": m.get("gc_ms", 0.0) / 1e3,
        "spill_bytes": m.get("spill_bytes", 0.0),
        "codegen_share": m.get("codegen_ms", 0.0) / run_ms if run_ms else 0.0,
    }


def task_skew(folded: dict, group: str) -> float:
    """Slowest ÷ median task of the group's stage with the most task time
    (for compose: the grouped applyInPandas stage)."""
    stages = folded["_tasks"].get(group, {})
    if not stages:
        return 0.0
    durs = max(stages.values(), key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med else 0.0
