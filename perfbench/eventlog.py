"""Parse an uncompressed Spark event log into per-job-group counters.

The benchmark tags every phase of every op execution with its own Spark
job group, so the log's ``SparkListenerJobStart`` properties map each
stage, and through it each task, to that phase.  Rolling logs (a
directory of ``events_<n>_<app>`` files) and single-file logs are both
read.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass

# Python-UDF evaluation nodes (row-at-a-time, Arrow, pandas map/group)
_PY_NODE = re.compile(r"(EvalPython|InPandas|InArrow|PythonUDTF|FlatMapGroupsIn|"
                      r"FlatMapCoGroupsIn|PythonRunner)")
_PY_METRICS = {"number of output rows": "py_rows",
               "data sent to Python workers": "py_bytes_in"}


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    py_rows: int = 0
    py_bytes_in: int = 0


def log_files(path: str) -> list[str]:
    """The event files of one application log, in write order."""
    if os.path.isfile(path):
        return [path]
    files = [f for f in os.listdir(path) if f.startswith("events_")]

    def index(name: str) -> int:
        try:
            return int(name.split("_")[1])
        except (IndexError, ValueError):
            return 0
    return [os.path.join(path, f) for f in sorted(files, key=index)]


def find_logs(log_dir: str) -> list[str]:
    """Application logs (files or rolling directories) under ``log_dir``."""
    return [os.path.join(log_dir, n) for n in sorted(os.listdir(log_dir))
            if not n.startswith(".") and not n.endswith(".crc")]


def _python_metric_ids(plan: dict, out: dict[int, str]) -> None:
    if _PY_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            key = _PY_METRICS.get(m.get("name"))
            if key:
                out[m["accumulatorId"]] = key
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def parse(path: str) -> dict[str, GroupCounters]:
    """Counters per job group id, from the application log at ``path``."""
    groups: dict[str, GroupCounters] = defaultdict(GroupCounters)
    stage_group: dict[int, str] = {}
    py_ids: dict[int, str] = {}
    for fname in log_files(path):
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        # a stage re-used by a later job is skipped there;
                        # its tasks belong to the job that first listed it
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None or "Failure Reason" in info:
                        continue
                    g = groups[group]
                    n = info["Number of Tasks"]
                    g.stages += 1
                    g.single_task_stages += n == 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = groups[group]
                    g.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    g.task_run_ms += m.get("Executor Run Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    g.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    g.shuffle_records += sw.get("Shuffle Records Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = py_ids.get(acc.get("ID"))
                        if key:
                            setattr(g, key, getattr(g, key) + int(acc.get("Update") or 0))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _python_metric_ids(ev.get("sparkPlanInfo") or {}, py_ids)
    return dict(groups)
