"""Reader for Spark's uncompressed JSON event log.

Jobs and tasks are attributed to requests by time window (epoch ms):
a job belongs to the request whose window holds its submission time.
SQL metrics of every executed plan (initial and adaptive re-plans) are
summed per accumulator and mapped to the engine's layers by operator.
Totals take ``windows``, the intervals the tracer recorded: a task or
an execution counts when it started inside one of them.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."


def _layer_of(node: str, desc: str) -> str | None:
    """Executed-plan operator -> layer: a file scan reads segments
    (table), Window/Sort keyed on the cell coordinates resolve versions
    (resolve), a left-semi broadcast join is the multi-range band join
    (plans), and any Python evaluation is a corpus operator (python)."""
    if node.startswith("Scan ") or node.startswith("FileScan"):
        return "table"
    if node in ("Window", "Sort", "WindowGroupLimit") and re.search(
            r"\brow\b.*\bfamily\b.*\bqualifier\b", desc):
        return "resolve"
    if node == "BroadcastHashJoin" and "LeftSemi" in desc:
        return "plans"
    if "Python" in node or "Pandas" in node or "Arrow" in node:
        return "python"
    return None


def _inside(t: float, windows) -> bool:
    return any(w0 <= t <= w1 for w0, w1 in windows)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class EventLog:
    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.accum: dict[int, float] = defaultdict(float)
        self.executions: dict[int, dict] = {}   # id -> {time, nodes{acc: (layer,node,name,type)}}
        self.peaks: dict[str, float] = defaultdict(float)

    @classmethod
    def load(cls, directory: str) -> "EventLog":
        ev = cls()
        files = [f for f in glob.glob(os.path.join(directory, "**", "*"),
                                      recursive=True) if os.path.isfile(f)]
        for path in sorted(files):
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        try:
                            ev._event(json.loads(line))
                        except json.JSONDecodeError:
                            continue   # a torn last line of an in-progress log
        return ev

    # ------------------------------------------------------- parsing

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"submit": e.get("Submission Time", 0),
                                      "end": None,
                                      "stages": list(e.get("Stage IDs", []))}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            info, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            self.tasks.append({
                "stage": e.get("Stage ID"),
                "launch": info.get("Launch Time", 0),
                "finish": info.get("Finish Time", 0),
                "retry": int(info.get("Attempt", 0) > 0 or info.get("Failed", False)),
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
                "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
                "output_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
                "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0),
            })
            for a in info.get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float)):
                    self.accum[a["ID"]] += a["Update"]
                elif isinstance(a.get("Update"), str) and a["Update"].lstrip("-").isdigit():
                    self.accum[a["ID"]] += int(a["Update"])
            self._peaks(e.get("Task Executor Metrics") or {})
        elif kind == "SparkListenerStageExecutorMetrics":
            self._peaks(e.get("Executor Metrics") or {})
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = self.executions.setdefault(
                e["executionId"], {"time": e.get("time"), "nodes": {}})
            if ex["time"] is None:
                ex["time"] = e.get("time")
            self._walk(e.get("sparkPlanInfo") or {}, ex["nodes"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc, val in e.get("accumUpdates", []):
                self.accum[acc] += val

    def _peaks(self, metrics: dict) -> None:
        for k, v in metrics.items():
            if isinstance(v, (int, float)) and v > self.peaks[k]:
                self.peaks[k] = v

    def _walk(self, info: dict, nodes: dict) -> None:
        name = info.get("nodeName", "")
        desc = info.get("simpleString", "")
        layer = _layer_of(name, desc)
        for m in info.get("metrics", []):
            nodes[m["accumulatorId"]] = (layer, name, m["name"], m["metricType"])
        for c in info.get("children", []):
            self._walk(c, nodes)

    # -------------------------------------------------------- queries

    def jobs_in(self, windows) -> list[dict]:
        return [j for j in self.jobs.values() if _inside(j["submit"], windows)]

    def tasks_of(self, jobs) -> int:
        stages = {s for j in jobs for s in j["stages"]}
        return sum(1 for t in self.tasks if t["stage"] in stages)

    def nonjob_ms(self, w0: float, w1: float) -> float:
        """Wall time of [w0, w1] outside every Spark job."""
        jobs = [(j["submit"], j["end"] or j["submit"]) for j in self.jobs.values()]
        return (w1 - w0) - union_length(jobs, w0, w1)

    def task_totals(self, windows) -> dict:
        tasks = [t for t in self.tasks if _inside(t["launch"], windows)]
        keys = ("run_ms", "cpu_ns", "gc_ms", "input_bytes", "input_records",
                "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                "fetch_wait_ms", "spill_bytes")
        out = {k: sum(t[k] for t in tasks) for k in keys}
        out["retries"] = sum(t["retry"] for t in tasks)
        return out

    def task_run_ms_in(self, windows) -> float:
        """Task run time overlapping the windows, pro-rated by overlap."""
        total = 0.0
        for t in self.tasks:
            span = t["finish"] - t["launch"]
            if span > 0:
                inside = sum(max(0.0, min(t["finish"], w1) - max(t["launch"], w0))
                             for w0, w1 in windows)
                total += t["run_ms"] * inside / span
        return total

    def scan_files(self, w0: float, w1: float) -> tuple[int, float]:
        """(scan operators executed, files they read) for SQL executions
        that started in [w0, w1]."""
        scans, files = 0, 0.0
        for ex in self.executions.values():
            if ex["time"] is None or not (w0 <= ex["time"] <= w1):
                continue
            for acc, (layer, _node, name, _t) in ex["nodes"].items():
                if layer == "table" and name == "number of files read":
                    scans += 1
                    files += self.accum.get(acc, 0)
        return scans, files

    def sql_layer_metrics(self, windows) -> dict:
        """Per layer: output rows and summed timing metrics (ms) of its
        operators; for Python evaluation also rows and bytes moved
        to and from the Python workers."""
        out: dict = defaultdict(float)
        seen = set()
        for ex in self.executions.values():
            if ex["time"] is None or not _inside(ex["time"], windows):
                continue
            for acc, (layer, _node, name, mtype) in ex["nodes"].items():
                if layer is None or acc in seen:
                    continue
                seen.add(acc)
                v = self.accum.get(acc, 0)
                if name == "number of output rows":
                    out[f"{layer}.rows"] += v
                elif mtype in ("timing", "nsTiming"):
                    out[f"{layer}.time_ms"] += v / 1e6 if mtype == "nsTiming" else v
                if layer == "python" and mtype == "size" and (
                        "Python" in name or "python" in name):
                    out["python.bytes"] += v
        return out

    def peak(self, key: str) -> float:
        return self.peaks.get(key, 0.0)
