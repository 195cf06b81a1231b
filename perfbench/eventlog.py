"""Spark event-log reader: attributes cluster work to the benchmark's spans.

The session writes one plain JSON-lines event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
Every span sets the ``spark.jobGroup.id`` local property to its own id, so
each job, stage and task in the log names the span that submitted it.

:func:`read` folds the log into one :class:`GroupStats` per job group:
jobs, stages that ran, summed task metrics (executor run time, shuffle
read/write bytes, spill, GC, output bytes), Python worker time, rows out of
Python plan nodes, and the wall intervals the group's jobs covered.
:func:`covered_ms` measures how much of a span's own time those intervals
cover; the rest of the span is driver time (planning and Python glue).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

PYTHON_TIME = "time to run Python workers"
ROWS_OUT = "number of output rows"
# plan nodes that run Python: their output-row metric counts UDF rows
PYTHON_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInArrow", "BatchEvalPython")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    exec_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    output_bytes: int = 0
    python_ms: int = 0
    python_rows: dict = field(default_factory=dict)  # node name -> rows out
    intervals: list = field(default_factory=list)  # (start_ms, end_ms) per job


def _plan_nodes(info: dict, out: dict) -> None:
    """accumulator id -> plan node name, over a sparkPlanInfo tree."""
    name = info.get("nodeName", "").split(" ")[0]
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = name
    for child in info.get("children", []):
        _plan_nodes(child, out)


def read(path: str) -> dict[str | None, GroupStats]:
    """Fold an uncompressed event log into per-job-group statistics.

    Jobs, stages and tasks without a job group are collected under ``None``.
    """
    groups: dict[str | None, GroupStats] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[tuple[int, int], str | None] = {}
    node_of: dict[int, str] = {}
    tasks = []

    def group(g):
        if g not in groups:
            groups[g] = GroupStats()
        return groups[g]

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = g
                job_start[ev["Job ID"]] = ev["Submission Time"]
                group(g).jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                group(job_group.get(jid)).intervals.append(
                    (job_start[jid], ev["Completion Time"])
                )
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                group(stage_group.get(key)).stages += 1
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_nodes(ev["sparkPlanInfo"], node_of)

    # tasks last: plan node names may arrive after a task's first metrics
    for ev in tasks:
        g = group(stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"])))
        m = ev.get("Task Metrics") or {}
        g.exec_ms += m.get("Executor Run Time", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name, update = acc.get("Name"), acc.get("Update")
            if not isinstance(update, (int, float, str)):
                continue
            if name == PYTHON_TIME:
                g.python_ms += int(update)
            elif name == ROWS_OUT:
                node = node_of.get(acc["ID"], "")
                if node in PYTHON_NODES:
                    g.python_rows[node] = g.python_rows.get(node, 0) + int(update)
    return groups


def covered_ms(intervals, start_ms: float, end_ms: float, holes=()) -> float:
    """Length of the union of ``intervals`` clipped to [start, end], minus
    the parts inside ``holes`` (child spans, whose jobs are their own)."""
    clipped = sorted(
        (max(a, start_ms), min(b, end_ms))
        for a, b in intervals
        if min(b, end_ms) > max(a, start_ms)
    )
    merged: list[list[float]] = []
    for a, b in clipped:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    total = 0.0
    for a, b in merged:
        total += b - a
        for ha, hb in holes:
            total -= max(0.0, min(b, hb) - max(a, ha))
    return total
