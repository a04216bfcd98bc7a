"""Per-layer counters, collected from outside the engine.

* ``EventLog`` parses Spark's JSON event log (standard library only) and
  attributes jobs, stages and tasks to time windows. Queries run one at a
  time, so a job belongs to the query whose window holds its submission.
* ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.
* ``ProcTree`` reads CPU time and resident memory of the driver JVM and its
  Python workers from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


class EventLog:
    """Jobs, stages, tasks and Python-node metrics of one application."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}  # id -> submission and completion (ms)
        self.stage_job: dict[int, int] = {}
        self.stages_done: set[int] = set()
        self.tasks: list[dict] = []
        self.py_rows_ids: set[int] = set()
        self.py_sent_ids: set[int] = set()
        self.py_recv_ids: set[int] = set()
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            self.jobs[jid] = {"submit": ev["Submission Time"], "end": None}
            for sid in ev["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            self.stages_done.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(_task_row(ev))
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._plan(ev["sparkPlanInfo"])

    def _plan(self, node: dict) -> None:
        is_py = any(m in node["nodeName"] for m in _PY_NODE_MARKERS)
        for m in node["metrics"]:
            if m["name"] == _PY_SENT:
                self.py_sent_ids.add(m["accumulatorId"])
            elif m["name"] == _PY_RECEIVED:
                self.py_recv_ids.add(m["accumulatorId"])
            elif is_py and m["name"] == "number of output rows":
                self.py_rows_ids.add(m["accumulatorId"])
        for child in node["children"]:
            self._plan(child)

    def window(self, spans: list[tuple[float, float, float]], cores: int) -> dict:
        """Counters for a list of query spans ``(start, built, end)`` in
        epoch seconds: jobs submitted in ``[start, built)`` ran while the
        query was being built, the rest of ``[start, end]`` while it ran."""
        jobs, build_jobs, gap_s, wall_s = set(), 0, 0.0, 0.0
        for start, built, end in spans:
            lo, mid, hi = start * 1000, built * 1000, end * 1000
            mine = [j for j, r in self.jobs.items() if lo <= r["submit"] <= hi]
            jobs.update(mine)
            build_jobs += sum(1 for j in mine if self.jobs[j]["submit"] < mid)
            busy = _union_ms(
                (max(lo, self.jobs[j]["submit"]), min(hi, self.jobs[j]["end"] or hi))
                for j in mine
            )
            gap_s += max(0.0, hi - lo - busy) / 1000
            wall_s += end - start
        stages = {s for s, j in self.stage_job.items() if j in jobs}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        out = {
            "queries.build_jobs": build_jobs,
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages & self.stages_done),
            "scheduler.tasks": len(tasks),
            "scheduler.gap_s": gap_s,
            "scheduler.task_delay_s": sum(t["delay_ms"] for t in tasks) / 1000,
            "exec.run_s": sum(t["run_ms"] for t in tasks) / 1000,
            "exec.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "exec.failed_tasks": sum(1 for t in tasks if not t["ok"]),
            "shuffle.write_bytes": sum(t["sw_bytes"] for t in tasks),
            "shuffle.read_bytes": sum(t["sr_bytes"] for t in tasks),
            "shuffle.write_s": sum(t["sw_ns"] for t in tasks) / 1e9,
            "shuffle.fetch_wait_s": sum(t["fetch_ms"] for t in tasks) / 1000,
            "shuffle.spill_bytes": sum(t["spill"] for t in tasks),
            "shuffle.skew": _worst_skew(tasks),
            "sources.scan_bytes": sum(t["in_bytes"] for t in tasks),
            "sources.scan_records": sum(t["in_records"] for t in tasks),
            "pyworker.bytes_sent": _acc(tasks, self.py_sent_ids),
            "pyworker.bytes_received": _acc(tasks, self.py_recv_ids),
            "pyworker.rows_received": _acc(tasks, self.py_rows_ids),
        }
        out["exec.busy_frac"] = out["exec.run_s"] / (wall_s * cores) if wall_s else 0.0
        return out


def _task_row(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    run_ms = m.get("Executor Run Time", 0)
    dur = info["Finish Time"] - info["Launch Time"]
    getting = info["Finish Time"] - info["Getting Result Time"] if info["Getting Result Time"] else 0
    delay = dur - run_ms - m.get("Executor Deserialize Time", 0)
    delay -= m.get("Result Serialization Time", 0) + getting
    return {
        "stage": ev["Stage ID"],
        "ok": ev["Task End Reason"]["Reason"] == "Success",
        "run_ms": run_ms,
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "delay_ms": max(0, delay),
        "spill": m.get("Disk Bytes Spilled", 0),
        "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_ms": sr.get("Fetch Wait Time", 0),
        "sw_bytes": sw.get("Shuffle Bytes Written", 0),
        "sw_ns": sw.get("Shuffle Write Time", 0),
        "in_bytes": inp.get("Bytes Read", 0),
        "in_records": inp.get("Records Read", 0),
        # SQL metrics are logged as strings, task metrics as numbers
        "acc": {
            a["ID"]: int(a["Update"])
            for a in info.get("Accumulables", ())
            if str(a.get("Update", "")).isdigit()
        },
    }


def _union_ms(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _worst_skew(tasks) -> float:
    """Largest max/median of per-task shuffle-read bytes over stages that
    read a shuffle with at least two tasks (0 when no stage does)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        if t["ok"]:
            by_stage.setdefault(t["stage"], []).append(t["sr_bytes"])
    worst = 0.0
    for reads in by_stage.values():
        med = statistics.median(reads)
        if len(reads) > 1 and med > 0:
            worst = max(worst, max(reads) / med)
    return worst


def _acc(tasks, ids: set[int]) -> int:
    return sum(v for t in tasks if t["ok"] for i, v in t["acc"].items() if i in ids)


class StreamProgress(StreamingQueryListener):
    """Keeps every micro-batch progress report of every streaming query."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def window(self, start: float, end: float) -> dict:
        """Batch and state-store counters of the batches that started in
        ``[start, end]`` (epoch seconds)."""
        with self._lock:
            mine = [p for p in self.progress if start <= _epoch(p["timestamp"]) <= end]
        ops = [op for p in mine for op in p.get("stateOperators", ())]
        dur = [p.get("durationMs", {}) for p in mine]
        return {
            "streaming.batches": len(mine),
            "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
            "streaming.trigger_ms": sum(d.get("triggerExecution", 0) for d in dur),
            "streaming.state_rows_peak": max((o.get("numRowsTotal", 0) for o in ops), default=0),
            "streaming.state_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
            "streaming.state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
            "streaming.state_bytes_peak": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        }


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProcTree:
    """CPU seconds and peak resident memory of a process and its descendants."""

    _TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, root_pid: int):
        self.root = root_pid

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = [self.root], [self.root]
        while frontier:
            kids = [p for p, pp in parent.items() if pp in frontier]
            tree += kids
            frontier = kids
        return tree

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree, plus what each
        has collected from reaped children (cutime+cstime)."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / self._TICK

    def rss_peak_bytes(self) -> int:
        """Sum of each live process's peak resident set (``VmHWM``)."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total
