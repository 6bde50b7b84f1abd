"""Tracing for the per-layer run, observed from outside the program.

The workload records one span per call into the program (an epoch, an
expiry call, a query build or count) with its wall-clock interval. Spark's
event log, written through ``get_spark(extra_conf=...)`` and read after the
session stops, supplies jobs, stages and tasks. A job belongs to the span
whose interval contains its submission time, whatever its job group: the
commit phase's thread pool does not inherit the caller's group, and query
builders run jobs during construction.

Spans are kept in memory and written once, as JSON lines, when the run
ends: workload -> call -> job -> stage, all sharing one run id.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
import uuid

# Python exec nodes whose output rows and bytes make up the payload layer
# (the Arrow UDF in functions.payload); the cuckoo seen set's pandas
# cogroup is a different node and is not counted
PAYLOAD_NODE = re.compile(r"ArrowEvalPython|BatchEvalPython")


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Codegen:
    """Compile count and compile time from the JVM ``CodegenMetrics``
    histogram. The time is estimated from the histogram's sample reservoir,
    which holds every sample until it reaches 1028."""

    def __init__(self, spark):
        self._h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        n = int(self._h.getCount())
        vals = list(self._h.getSnapshot().getValues())
        total_ms = sum(vals) * n / len(vals) if vals else 0.0
        return n, total_ms / 1000.0


class Tracer:
    def __init__(self, workload: str):
        self.run_id = uuid.uuid4().hex[:12]
        self.workload = workload
        self.spans: list[dict] = []
        self.root = self._add(workload, "workload", None, time.time(), None, {})

    def _add(self, name, kind, parent, start, end, attrs) -> dict:
        span = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": parent,
            "name": name,
            "kind": kind,
            "start": start,
            "end": end,
            "attrs": attrs,
        }
        self.spans.append(span)
        return span

    def call(self, name: str, kind: str, start: float, end: float, **attrs) -> dict:
        """Record one finished call into the program (epoch time seconds)."""
        return self._add(name, kind, self.root["id"], start, end, attrs)

    def calls(self, kind: str) -> list[dict]:
        return [s for s in self.spans if s["kind"] == kind]

    def attach_events(self, events: dict) -> None:
        """Attach jobs and stages under the call spans that contain them."""
        calls = [s for s in self.spans if s["parent"] == self.root["id"]]
        for job in events["jobs"]:
            owner = _owner(calls, job["start"])
            if owner is None:
                continue
            js = self._add(
                f"job {job['id']}", "job", owner["id"], job["start"], job["end"], {"stages": len(job["stages"])}
            )
            for sid in job["stages"]:
                st = events["stages"].get(sid)
                if st is not None:
                    self._add(f"stage {sid}", "stage", js["id"], st["start"], st["end"], {"tasks": st["tasks"]})

    def write(self, path: str) -> None:
        self.root["end"] = time.time()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _owner(calls: list[dict], t: float):
    for c in calls:
        if c["start"] <= t <= c["end"]:
            return c
    return None


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and per-task metrics from the one event log in
    ``log_dir``. Times are converted to epoch seconds."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    payload_ids: set[int] = set()
    wanted = (
        '{"Event":"SparkListenerJob',
        '{"Event":"SparkListenerStageCompleted"',
        '{"Event":"SparkListenerTaskEnd"',
        '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQL',
    )
    with open(files[0]) as fh:
        for line in fh:
            if not line.startswith(wanted):  # skip the bulk unparsed
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages[si["Stage ID"]] = {
                    "start": si["Submission Time"] / 1000.0,
                    "end": si["Completion Time"] / 1000.0,
                    "tasks": si["Number of Tasks"],
                }
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics", {})
                sr = tm.get("Shuffle Read Metrics", {})
                py_rows = py_bytes = 0
                for a in ti.get("Accumulables", []):
                    if a.get("ID") in payload_ids and a.get("Name") == "number of output rows":
                        py_rows += int(a.get("Update", 0))
                    elif a.get("Name") in ("data sent to Python workers", "data returned from Python workers"):
                        if a.get("ID") in payload_ids:
                            py_bytes += int(a.get("Update", 0))
                tasks.append(
                    {
                        "start": ti["Launch Time"] / 1000.0,
                        "cpu_s": (tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0)) / 1e9,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0),
                        "py_rows": py_rows,
                        "py_bytes": py_bytes,
                    }
                )
            elif "sparkPlanInfo" in e:
                _collect_payload_ids(e["sparkPlanInfo"], payload_ids)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return {"jobs": sorted(jobs.values(), key=lambda j: j["start"]), "stages": stages, "tasks": tasks}


def _collect_payload_ids(node: dict, out: set[int]) -> None:
    if PAYLOAD_NODE.search(node.get("nodeName", "")):
        out.update(m["accumulatorId"] for m in node.get("metrics", []))
    for child in node.get("children", []):
        _collect_payload_ids(child, out)


def interval_stats(events: dict, start: float, end: float) -> dict:
    """Counts and totals of the Spark work that started in [start, end]."""
    jobs = [j for j in events["jobs"] if start <= j["start"] <= end]
    stage_ids = {s for j in jobs for s in j["stages"] if s in events["stages"]}
    tasks = [t for t in events["tasks"] if start <= t["start"] <= end]
    busy = 0.0
    cur_s = cur_e = None
    for j in jobs:  # union of job intervals, clipped to the call
        s, e = max(j["start"], start), min(j["end"], end)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    mb = 1024.0 * 1024.0
    wall = max(end - start, 1e-9)
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": len(tasks),
        "busy_s": busy,
        "driver_only_share": max(0.0, 1.0 - busy / wall),
        "cpu_s": sum(t["cpu_s"] for t in tasks),
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb,
        "spill_mb": sum(t["spill"] for t in tasks) / mb,
        "py_rows": sum(t["py_rows"] for t in tasks),
        "py_mb": sum(t["py_bytes"] for t in tasks) / mb,
    }


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against 0, 1, 2, ..."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2.0, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))
