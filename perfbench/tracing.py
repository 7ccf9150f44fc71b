"""Measurement helpers that observe the program from outside.

* ``Tracer``: spans (name, start, end, parent) around calls the benchmark
  makes into each layer, kept in memory and written out when the run
  ends; self time = duration minus the part covered by child spans.
* ``RssSampler``: resident memory of the Spark JVM plus the Python
  workers (every descendant process of this one), sampled from ``/proc``.
* ``calibrate``: a short CPU burn pinned to one core in a child process,
  recorded beside each run so throttled windows are visible.
* ``read_event_log``: Spark's own event log, parsed with ``json`` into
  per-stage task counts, task times, shuffle, spill and Python-crossing
  bytes, tagged with the job description the benchmark set.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack else None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name (children are nested and
        sequential, so their durations are disjoint sub-intervals)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_s):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - c
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([dict(s, start=s["start"] - t0, end=s["end"] - t0)
                       for s in self.spans], f)


# ---------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # process exited between glob and open
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Summed RSS of this process's descendants, sampled while running."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []  # (perf_counter, kB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % 8 == 0:  # the process tree changes rarely; rescan ~2 s
                pids = descendants()
            n += 1
            kb = sum(_rss_kb(p) for p in pids)
            self.samples.append((time.perf_counter(), kb))
            self._stop.wait(self.interval_s)

    def peak_kb(self, start: float, end: float) -> int:
        return max((kb for t, kb in self.samples if start <= t <= end),
                   default=0)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; kill whatever outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


_BURN = """
import os, time
os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
n, t0 = 0, time.perf_counter()
while time.perf_counter() - t0 < 0.2:
    for _ in range(10000):
        n += 1
print(n / (time.perf_counter() - t0) / 1e6)
"""


def calibrate() -> float:
    """Millions of loop iterations per second on one pinned core."""
    out = subprocess.run([sys.executable, "-c", _BURN], capture_output=True,
                         text=True, timeout=60, check=True)
    return round(float(out.stdout), 2)


# ---------------------------------------------------------------- event log

def _events(app_path: str):
    files = (sorted(glob.glob(os.path.join(app_path, "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
             if os.path.isdir(app_path) else [app_path])
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(root: str) -> tuple[list[dict], list[dict]]:
    """(stages, executions) over every application logged under ``root``.

    A stage record: desc (job description), tasks, run_ms (per task),
    shuffle_read_bytes (per task), shuffle_write_bytes, spill_bytes,
    py_sent, py_returned, arrow_rows (MapInArrow output rows), scan
    (reads files). An execution record: desc, exchanges (Exchange nodes
    in the final adaptive plan)."""
    stages: list[dict] = []
    executions: list[dict] = []
    for app in sorted(glob.glob(os.path.join(root, "*"))):
        acc: dict[int, tuple[str, str]] = {}
        plans: dict[int, dict] = {}
        exec_desc: dict[int, str] = {}
        stage_desc: dict[int, str] = {}
        per_stage: dict[int, dict] = {}
        for e in _events(app):
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                eid = e["executionId"]
                plans[eid] = e["sparkPlanInfo"]
                if "description" in e:
                    exec_desc[eid] = e["description"]
                for node in _walk(e["sparkPlanInfo"]):
                    for m in node.get("metrics", []):
                        acc[m["accumulatorId"]] = (node["nodeName"], m["name"])
            elif kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description", "")
                for sid in e["Stage IDs"]:
                    stage_desc[sid] = desc
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                rec = per_stage.setdefault(info["Stage ID"], _stage_record())
                rec["scan"] = any(r["Name"] == "FileScanRDD"
                                  for r in info["RDD Info"])
            elif kind == "SparkListenerTaskEnd":
                if e["Task End Reason"]["Reason"] != "Success":
                    continue
                rec = per_stage.setdefault(e["Stage ID"], _stage_record())
                tm = e.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["run_ms"].append(tm.get("Executor Run Time", 0))
                read = tm.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_bytes"].append(
                    read.get("Remote Bytes Read", 0)
                    + read.get("Local Bytes Read", 0))
                rec["shuffle_write_bytes"] += (tm.get(
                    "Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rec["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                       + tm.get("Disk Bytes Spilled", 0))
                for a in e["Task Info"].get("Accumulables", []):
                    node, metric = acc.get(a["ID"], ("", ""))
                    if metric == PY_SENT:
                        rec["py_sent"] += int(a["Update"])
                    elif metric == PY_RETURNED:
                        rec["py_returned"] += int(a["Update"])
                    elif node == "MapInArrow" and metric == "number of output rows":
                        rec["arrow_rows"] += int(a["Update"])
        for sid, rec in per_stage.items():
            rec["desc"] = stage_desc.get(sid, "")
            stages.append(rec)
        for eid, plan in plans.items():
            executions.append({
                "desc": exec_desc.get(eid, ""),
                "exchanges": sum(n["nodeName"] == "Exchange"
                                 for n in _walk(plan)),
            })
    return stages, executions


def _stage_record() -> dict:
    return {"tasks": 0, "run_ms": [], "shuffle_read_bytes": [],
            "shuffle_write_bytes": 0, "spill_bytes": 0, "py_sent": 0,
            "py_returned": 0, "arrow_rows": 0, "scan": False}
