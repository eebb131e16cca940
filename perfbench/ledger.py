"""Spans recorded around calls into the program, and a per-span resource
ledger read back from Spark's event log.

Spans (name, start, end, parent, run id) live in memory and are written
out once, when the run ends. Each span that drives Spark sets its own job
group, so the event log's ``JobStart`` properties map every job, stage and
task to the span that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# TaskEnd accumulables carrying the Python-worker side of UDF stages (JVM
# executor CPU time does not include it)
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


class Spans:
    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc                 # SparkContext whose job group to set
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Record one span; with ``group``, Spark jobs started inside it
        carry that job group id."""
        rec = {"id": len(self.records), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": group, "start": time.time(), **attrs}
        self.records.append(rec)
        self._stack.append(rec["id"])
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None and self.sc is not None:
                self.sc.setJobGroup("perfbench", "between spans")

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _event_files(log_dir: str) -> list[str]:
    """Rolling (eventlog_v2_*/events_<n>_*) and single-file logs, in order."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(
            os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p))


def group_ledger(log_dir: str) -> dict[str, dict]:
    """Sum the event log per job group: jobs, tasks, task run time,
    executor CPU, Python-worker run time, data sent to Python workers,
    shuffle, spill and output bytes, plus each job's (submit, end) interval
    in epoch seconds for the driver-self-time computation."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "python_s": 0.0, "python_sent_bytes": 0.0,
            "shuffle_bytes": 0.0, "spill_bytes": 0.0, "output_bytes": 0.0,
            "job_intervals": {},
        })

    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "none"
                    job_group[ev["Job ID"]] = group
                    a = acc(group)
                    a["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    a["job_intervals"][ev["Job ID"]] = [
                        ev["Submission Time"] / 1e3, None]
                elif kind == "SparkListenerJobEnd":
                    group = job_group.get(ev["Job ID"])
                    if group is not None:
                        iv = acc(group)["job_intervals"][ev["Job ID"]]
                        iv[1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "none")
                    a = acc(group)
                    tm = ev.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    a["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
                    a["shuffle_bytes"] += (tm.get("Shuffle Write Metrics")
                                           or {}).get("Shuffle Bytes Written",
                                                      0)
                    a["output_bytes"] += (tm.get("Output Metrics")
                                          or {}).get("Bytes Written", 0)
                    for acm in (ev.get("Task Info") or {}).get(
                            "Accumulables", []):
                        if acm.get("Name") == _PY_RUN:
                            a["python_s"] += _num(acm.get("Update")) / 1e3
                        elif acm.get("Name") == _PY_SENT:
                            a["python_sent_bytes"] += _num(acm.get("Update"))
    return out


def driver_self_s(span: dict, intervals) -> float:
    """Part of the span's wall interval covered by no Spark job."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(lo, s), min(hi, e if e is not None else hi))
                 for s, e in intervals)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (hi - lo) - covered)
