"""Reader for Spark's JSON event log (``spark.eventLog.enabled``), keyed by
job group.

For each job group it collects job intervals, stage and task counts, the
executor task metrics (run, CPU and GC time, shuffle bytes, bytes
spilled to disk, task durations) and the Python SQL metrics Spark attaches to its Python
operators (bytes to and from the Python workers, rows the Python
operators returned, worker start / init / run time).

The log must be uncompressed and non-rolling (``spark.eventLog.compress
=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PY_NODE = re.compile(r"Python|Pandas|InArrow")

# Python SQL metric name -> GroupStats attribute
PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_intervals: list = field(default_factory=list)  # epoch seconds
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0  # Disk Bytes Spilled (the in-memory size of the
    # same spilled data, Memory Bytes Spilled, is not added to it)
    task_ms: dict = field(default_factory=dict)  # stage id -> task durations
    py_bytes_sent: int = 0
    py_bytes_returned: int = 0
    py_rows_returned: int = 0
    py_boot_ms: float = 0.0
    py_init_ms: float = 0.0
    py_run_ms: float = 0.0

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if isinstance(v, list):
                getattr(self, k).extend(v)
            elif isinstance(v, dict):
                for sid, ms in v.items():
                    getattr(self, k).setdefault(sid, []).extend(ms)
            else:
                setattr(self, k, getattr(self, k) + v)


def read_events(path: str):
    """Yield event dicts; a torn last line (log still open) is skipped."""
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except ValueError:
                continue


def _python_row_accumulators(plan: dict, out: dict) -> None:
    """Record in ``out`` the accumulator id of the 'number of output rows'
    metric of every Python operator node in a plan tree."""
    if PY_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[m["accumulatorId"]] = 1
    for c in plan.get("children", []):
        _python_row_accumulators(c, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def summarize(path: str) -> dict[str | None, GroupStats]:
    """Per job group statistics from one application's event log."""
    groups: dict[str | None, GroupStats] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}
    py_row_acc: dict[int, int] = {}

    def g(gid) -> GroupStats:
        return groups.setdefault(gid, GroupStats())

    for e in read_events(path):
        kind = e.get("Event")
        if kind in (SQL_START, SQL_AQE):
            _python_row_accumulators(e.get("sparkPlanInfo", {}), py_row_acc)
        elif kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = gid
            job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            g(gid).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                g(job_group.get(jid)).job_intervals.append(
                    (job_start[jid], e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[e["Stage Info"]["Stage ID"]] = gid
        elif kind == "SparkListenerStageCompleted":
            g(stage_group.get(e["Stage Info"]["Stage ID"])).stages += 1
        elif kind == "SparkListenerTaskEnd":
            st = g(stage_group.get(e.get("Stage ID")))
            info = e.get("Task Info", {})
            tm = e.get("Task Metrics") or {}
            st.tasks += 1
            st.task_ms.setdefault(e.get("Stage ID"), []).append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0))
            st.run_ms += tm.get("Executor Run Time", 0)
            st.cpu_ns += tm.get("Executor CPU Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
            for acc in info.get("Accumulables", []):
                attr = PY_METRICS.get(acc.get("Name"))
                if attr is not None:
                    setattr(st, attr, getattr(st, attr) + _num(acc.get("Update")))
                elif acc.get("ID") in py_row_acc:
                    st.py_rows_returned += int(_num(acc.get("Update")))
    return groups
