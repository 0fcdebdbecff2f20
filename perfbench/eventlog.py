"""Spark event-log parser: one row of counters per job group.

The traced run turns Spark's event log on from outside
(``spark.eventLog.enabled``, uncompressed) and runs every operation
phase under its own job group. This module reads the JSON-lines logs
back and totals, per job group:

- ``jobs``, ``stages`` (stages that ran at least one task), ``tasks``;
- ``executor_run_s`` and ``executor_cpu_s`` (task run and CPU time);
- ``sched_delay_s``: task wall time not spent deserializing, running,
  serializing the result or fetching it (Spark UI's scheduler delay);
- ``shuffle_write_bytes``, ``shuffle_read_bytes``, ``fetch_wait_s``;
- ``spill_bytes`` (memory plus disk bytes spilled);
- ``records_written``: rows the group's tasks wrote to files;
- ``exchanges``: shuffle and broadcast exchanges in the final physical
  plan of every SQL execution whose jobs ran in the group.

Jobs without a job group are ignored.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
          "sched_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
          "fetch_wait_s", "spill_bytes", "records_written", "exchanges")

_SQL = "org.apache.spark.sql.execution.ui."
_EXCHANGES = ("Exchange", "BroadcastExchange")


def _count_exchanges(plan: dict) -> int:
    stack, n = [plan], 0
    while stack:
        node = stack.pop()
        n += node.get("nodeName") in _EXCHANGES
        stack.extend(node.get("children", ()))
    return n


def parse(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Return ``{job_group: {field: value}}`` for one or more event logs
    given as an iterable of their lines."""
    rows: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}
    ran_stages: set[int] = set()
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}

    def row(group: str) -> dict[str, float]:
        if group not in rows:
            rows[group] = dict.fromkeys(FIELDS, 0)
        return rows[group]

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerApplicationStart":
            # ids restart in every application: scope the maps to it
            stage_group.clear()
            exec_group.clear()
            plans.clear()
            ran_stages.clear()
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            row(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            r = row(group)
            r["tasks"] += 1
            if ev["Stage ID"] not in ran_stages:
                ran_stages.add(ev["Stage ID"])
                r["stages"] += 1
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            r["executor_run_s"] += run_ms / 1e3
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            busy_ms = (run_ms + m.get("Executor Deserialize Time", 0)
                       + m.get("Result Serialization Time", 0)
                       + (info.get("Finish Time", 0) - info["Getting Result Time"]
                          if info.get("Getting Result Time") else 0))
            r["sched_delay_s"] += max(0, wall_ms - busy_ms) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            r["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            r["records_written"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            # the last plan seen for an execution is its final plan
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            eid = ev["executionId"]
            group = exec_group.get(eid)
            plan = plans.pop(eid, None)
            if group is not None and plan is not None:
                row(group)["exchanges"] += _count_exchanges(plan)
    return rows


def log_files(root: str) -> list[str]:
    """The event-log files under ``root`` in replay order: single-file
    logs, and the parts of rolling logs (``eventlog_v2_<app>/events_<n>_
    <app>``, Spark's default since 4.0) by part number."""
    out = []
    for entry in sorted(os.listdir(root)):
        path = os.path.join(root, entry)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out += [os.path.join(path, f) for f in parts]
        else:
            out.append(path)
    return out


def parse_files(paths: Iterable[str]) -> dict[str, dict[str, float]]:
    """``parse`` over event-log files, read in the given order."""
    def lines():
        for p in paths:
            with open(p, encoding="utf-8") as f:
                yield from f
    return parse(lines())
