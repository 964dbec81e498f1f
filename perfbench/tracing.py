"""Tracing and process probes for the benchmark.

* ``read_event_log`` / ``span_profiles`` decode a Spark event log (plain
  or zstd, single file or a rolling ``eventlog_v2_*`` directory) and sum
  the task metrics of the jobs tagged with each job group.
* ``ProgressRecorder`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.
* ``peak_rss_mb`` reads ``VmHWM`` of a process and its descendants from
  ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
from collections import defaultdict

MB = 2.0**20


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, names in os.walk(path):
        out += [os.path.join(root, n) for n in names
                if n.startswith(("events_", "local-", "app-"))
                and not n.endswith(".crc")]
    # rolling logs are events_<index>_<appid>[.codec]: replay in order
    return sorted(out, key=lambda p: (_roll_index(p), p))


def _roll_index(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


def read_event_log(path: str) -> list[dict]:
    """Every event of the log(s) under ``path``, in file order."""
    import pyarrow as pa

    events = []
    for f in _event_files(path):
        codec = "zstd" if f.endswith(".zstd") else None
        with pa.input_stream(f, compression=codec) as s:
            text = s.read().decode("utf-8")
        events += [json.loads(line) for line in text.splitlines() if line.strip()]
    return events


def _acc(info: dict, name: str) -> float:
    for a in info.get("Accumulables", []):
        if a.get("Name") == name:
            return float(a.get("Update") or 0)
    return 0.0


def _plan_metric_ids(plan: dict, name: str, out: set) -> set:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)
    return out


def span_profiles(events: list[dict]) -> dict[str, dict]:
    """Per job group: task counts and summed task metrics of its stages.

    Keys of each profile: ``jobs``, ``tasks``, ``widest_stage`` (tasks of
    the stage with most tasks), ``run_s`` (sum of executor run time),
    ``max_task_s``, ``cpu_s``, ``gc_s``, ``spill_mb`` (memory + disk),
    ``shuffle_write_mb``, ``input_rows``, ``python_in_mb`` and
    ``python_out_mb`` (Arrow bytes sent to and returned from Python
    workers), and ``scan_mb`` (the scans' "size of files read", a
    driver-side SQL metric).  Jobs without a group are skipped.
    """
    stage_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    scan_ids: dict[str, set] = defaultdict(set)
    scan_bytes: dict[str, dict[int, float]] = defaultdict(dict)
    prof: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, int] = defaultdict(int)
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_metric_ids(e.get("sparkPlanInfo") or {}, "size of files read",
                             scan_ids[str(e["executionId"])])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = str(e["executionId"])
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in scan_ids[ex]:
                    scan_bytes[ex][acc_id] = float(value)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group:
                prof[group]["jobs"] += 1
                if "spark.sql.execution.id" in props:
                    exec_group[props["spark.sql.execution.id"]] = group
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e.get("Stage ID"))
            if group is None:
                continue
            p = prof[group]
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            stage_tasks[e["Stage ID"]] += 1
            p["tasks"] += 1
            p["run_s"] += run_s
            p["max_task_s"] = max(p["max_task_s"], run_s)
            p["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            p["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            p["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            p["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            p["python_in_mb"] += _acc(info, "data sent to Python workers") / MB
            p["python_out_mb"] += _acc(info, "data returned from Python workers") / MB
    for sid, n in stage_tasks.items():
        p = prof[stage_group[sid]]
        p["widest_stage"] = max(p["widest_stage"], n)
    for ex, group in exec_group.items():
        prof[group]["scan_mb"] += sum(scan_bytes[ex].values()) / MB
    return {g: dict(p) for g, p in prof.items()}


class ProgressRecorder:
    """Collects ``QueryProgressEvent`` payloads (as dicts) of every
    streaming query in the session; ``wait_terminated`` blocks until the
    listener bus has delivered a query's termination."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                recorder._add(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                recorder._terminated(str(event.id))

        self.listener = _Listener()
        self._lock = threading.Lock()
        self._done = threading.Condition(self._lock)
        self._progress: list[dict] = []
        self._ended: set[str] = set()

    def _add(self, p: dict) -> None:
        with self._lock:
            self._progress.append(p)

    def _terminated(self, qid: str) -> None:
        with self._done:
            self._ended.add(qid)
            self._done.notify_all()

    def take(self) -> list[dict]:
        """Progress reports received since the last call."""
        with self._lock:
            out, self._progress = self._progress, []
        return out

    def wait_terminated(self, n: int, timeout: float = 30.0) -> bool:
        """True once ``n`` queries have terminated in total."""
        with self._done:
            return self._done.wait_for(lambda: len(self._ended) >= n, timeout)


def drain_profile(progress: list[dict]) -> dict[str, float]:
    """One drain's micro-batches summed: ``durationMs`` phases in seconds
    and the state operator's size at the last batch."""
    dur = defaultdict(float)
    for p in progress:
        for k, v in (p.get("durationMs") or {}).items():
            dur[k] += v / 1e3
    last_ops = (progress[-1].get("stateOperators") or []) if progress else []
    return {
        "batches": len(progress),
        "add_batch_s": dur["addBatch"],
        "planning_s": dur["queryPlanning"],
        "wal_commit_s": dur["walCommit"],
        "state_commit_s": sum(
            op.get("commitTimeMs", 0) for p in progress
            for op in p.get("stateOperators") or []) / 1e3,
        "state_partitions": sum(op.get("numShufflePartitions", 0) for op in last_ops),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "state_mem_mb": sum(op.get("memoryUsedBytes", 0) for op in last_ops) / MB,
    }


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we walked
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    """Sum of ``VmHWM`` over ``pid`` and all its live descendants, MiB."""
    kids = _proc_children()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += _vm_hwm_kib(p)
        todo += kids.get(p, [])
    return total / 1024.0
