"""Pins eventlog.parse on a small synthetic event log.

Run: python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _plan(*names):
    """A chain of plan nodes, outermost first."""
    node = {"nodeName": names[-1], "children": []}
    for name in reversed(names[:-1]):
        node = {"nodeName": name, "children": [node]}
    return node


def _task(stage, run_ms, cpu_ns, launch, finish, deser=0, write=0,
          local=0, remote=0, wait=0, mem_spill=0, disk_spill=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Executor Deserialize Time": deser,
            "Result Serialization Time": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Local Bytes Read": local,
                                     "Remote Bytes Read": remote,
                                     "Fetch Wait Time": wait},
            "Memory Bytes Spilled": mem_spill,
            "Disk Bytes Spilled": disk_spill,
            "Output Metrics": {"Bytes Written": 8 * written,
                               "Records Written": written},
        },
    }


def _job(job, stages, group=None, execution=None):
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Stage IDs": stages, "Properties": props}


def _log():
    app = {"Event": "SparkListenerApplicationStart", "App Name": "t"}
    return [
        app,
        # a build-phase job with no SQL execution (an eager cut)
        _job(0, [0], "q_a#0|build"),
        _task(0, 100, 50_000_000, 1_000, 1_130, deser=10),
        # an exec-phase SQL execution: AQE replans, the final plan has
        # one shuffle and one broadcast exchange (the reused one is not
        # counted)
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": _plan("AdaptiveSparkPlan", "Exchange", "Exchange",
                                "Scan")},
        _job(1, [1, 2], "q_a#0|exec", execution=7),
        _task(1, 200, 150_000_000, 2_000, 2_200, write=4096),
        _task(1, 300, 250_000_000, 2_000, 2_320, write=1024),
        _task(2, 50, 40_000_000, 3_000, 3_060, local=3000, remote=2120,
              wait=5, mem_spill=64, disk_spill=32),
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7,
         "sparkPlanInfo": _plan("AdaptiveSparkPlan", "BroadcastExchange",
                                "ReusedExchange", "Exchange", "Scan")},
        {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": 7},
        # a job outside any group is ignored
        _job(2, [3]),
        _task(3, 999, 999, 0, 999),
        # a second application reuses stage ids
        app,
        _job(0, [0], "q_b#1|load"),
        _task(0, 10, 1_000_000, 0, 10, written=40),
        _task(0, 10, 1_000_000, 0, 10, written=2),
    ]


def test_parse_totals_per_job_group():
    rows = eventlog.parse(json.dumps(e) for e in _log())
    assert set(rows) == {"q_a#0|build", "q_a#0|exec", "q_b#1|load"}

    build = rows["q_a#0|build"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 1)
    assert build["executor_run_s"] == 0.1
    assert build["executor_cpu_s"] == 0.05
    assert abs(build["sched_delay_s"] - 0.02) < 1e-9  # 130 - 100 - 10 ms
    assert build["exchanges"] == 0

    ex = rows["q_a#0|exec"]
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (1, 2, 3)
    assert abs(ex["executor_run_s"] - 0.55) < 1e-9
    assert abs(ex["executor_cpu_s"] - 0.44) < 1e-9
    assert abs(ex["sched_delay_s"] - 0.03) < 1e-9  # 0 + 20 + 10 ms
    assert ex["shuffle_write_bytes"] == 5120
    assert ex["shuffle_read_bytes"] == 5120
    assert ex["fetch_wait_s"] == 0.005
    assert ex["spill_bytes"] == 96
    assert ex["exchanges"] == 2
    assert ex["records_written"] == 0

    second = rows["q_b#1|load"]
    assert (second["jobs"], second["stages"], second["tasks"]) == (1, 1, 2)
    assert second["records_written"] == 42


def test_parse_files_reads_in_order(tmp_path):
    events = [json.dumps(e) for e in _log()]
    first, second = tmp_path / "app-1", tmp_path / "app-2"
    first.write_text("\n".join(events[:11]) + "\n")
    second.write_text("\n".join(events[11:]) + "\n\n")
    assert eventlog.parse_files([first, second]) == eventlog.parse(events)


def test_log_files_orders_rolling_parts(tmp_path):
    rolling = tmp_path / "eventlog_v2_local-2"
    rolling.mkdir()
    for name in ("events_10_local-2", "events_2_local-2", "appstatus_local-2"):
        (rolling / name).write_text("")
    (tmp_path / "local-1").write_text("")
    assert eventlog.log_files(str(tmp_path)) == [
        str(rolling / "events_2_local-2"),
        str(rolling / "events_10_local-2"),
        str(tmp_path / "local-1"),
    ]
