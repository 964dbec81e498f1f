"""Pins the event-log parser and the streaming progress summary on tiny
synthetic inputs.  Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from perfbench.tracing import (
    drain_profile,
    peak_rss_mb,
    read_event_log,
    span_profiles,
)

APP = "local-1"


def _task(stage, run_ms, cpu_ns, shuffle=0, spill=0, gc_ms=0, rows=0, py_in=None):
    acc = []
    if py_in is not None:
        acc = [{"ID": 90, "Name": "data sent to Python workers", "Update": str(py_in)},
               {"ID": 91, "Name": "data returned from Python workers",
                "Update": str(py_in // 2)}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Records Read": rows},
        },
    }


def _job(job_id, stages, group=None, execution=None):
    props = {}
    if group:
        props["spark.jobGroup.id"] = group
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


EVENTS_1 = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4"},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 5,
     "sparkPlanInfo": {"nodeName": "Scan", "metrics": [], "children": [
         {"nodeName": "FileScan", "children": [], "metrics": [
             {"name": "size of files read", "accumulatorId": 7},
             {"name": "number of files read", "accumulatorId": 8}]}]}},
    _job(0, [0, 1], "span:a", execution=5),
    _task(0, 1000, 5e8, shuffle=2 * 2**20, rows=100),
    _task(0, 3000, 2e9, shuffle=2**20, rows=50, gc_ms=250),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 5, "accumUpdates": [[7, 3 * 2**20], [8, 2]]},
]
EVENTS_2 = [
    _task(1, 2000, 1e9, spill=2**19, py_in=4 * 2**20),
    _job(1, [2]),  # no job group: ignored
    _task(2, 9999, 9e9),
    _job(2, [3], "span:b"),
    _task(3, 500, 1e8),
]


def _write(path, events, codec):
    data = "".join(json.dumps(e) + "\n" for e in events).encode()
    with pa.output_stream(path, compression=codec) as s:
        s.write(data)


@pytest.fixture
def rolling_log(tmp_path):
    d = tmp_path / f"eventlog_v2_{APP}"
    d.mkdir()
    # written out of order: the parser replays by roll index
    _write(str(d / f"events_2_{APP}.zstd"), EVENTS_2, "zstd")
    _write(str(d / f"events_1_{APP}.zstd"), EVENTS_1, "zstd")
    (d / f"appstatus_{APP}").write_text("")
    return str(tmp_path)


def test_reads_rolling_zstd_log_in_order(rolling_log):
    events = read_event_log(rolling_log)
    assert len(events) == len(EVENTS_1) + len(EVENTS_2)
    assert events[0]["Event"] == "SparkListenerLogStart"
    assert events[-1] == EVENTS_2[-1]


def test_reads_single_plain_file(tmp_path):
    path = str(tmp_path / APP)
    _write(path, EVENTS_1, None)
    assert read_event_log(path) == EVENTS_1


def test_span_profiles_sum_task_metrics_per_group(rolling_log):
    prof = span_profiles(read_event_log(rolling_log))
    assert set(prof) == {"span:a", "span:b"}
    a = prof["span:a"]
    assert a["jobs"] == 1 and a["tasks"] == 3
    assert a["widest_stage"] == 2
    assert a["run_s"] == pytest.approx(6.0)
    assert a["max_task_s"] == pytest.approx(3.0)
    assert a["cpu_s"] == pytest.approx(3.5)
    assert a["gc_s"] == pytest.approx(0.25)
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert a["spill_mb"] == pytest.approx(1.0)
    assert a["input_rows"] == 150
    assert a["python_in_mb"] == pytest.approx(4.0)
    assert a["python_out_mb"] == pytest.approx(2.0)
    assert a["scan_mb"] == pytest.approx(3.0)
    b = prof["span:b"]
    assert b["tasks"] == 1 and b["run_s"] == pytest.approx(0.5)
    assert b.get("scan_mb", 0.0) == 0.0


def test_drain_profile_sums_phases_and_keeps_last_state():
    def progress(add_ms, commit_ms, rows):
        return {"durationMs": {"addBatch": add_ms, "queryPlanning": 10,
                               "walCommit": 5, "triggerExecution": add_ms + 20},
                "stateOperators": [{"commitTimeMs": commit_ms,
                                    "numShufflePartitions": 8,
                                    "numRowsTotal": rows,
                                    "memoryUsedBytes": rows * 1024}]}

    p = drain_profile([progress(1000, 200, 10), progress(500, 100, 30)])
    assert p["batches"] == 2
    assert p["add_batch_s"] == pytest.approx(1.5)
    assert p["planning_s"] == pytest.approx(0.02)
    assert p["wal_commit_s"] == pytest.approx(0.01)
    assert p["state_commit_s"] == pytest.approx(0.3)
    assert p["state_partitions"] == 8
    assert p["state_rows"] == 30
    assert p["state_mem_mb"] == pytest.approx(30 / 1024)
    assert drain_profile([])["batches"] == 0


def test_peak_rss_covers_this_process():
    assert peak_rss_mb(os.getpid()) > 1.0
