"""Span recorder, Spark event-log parser and the summary statistics the
benchmark reports.

Spans are recorded by the benchmark around its calls into the engine's
public functions. With tracing on, every span runs its Spark jobs under
a job group of its own, so the jobs it fired are read back from
``statusTracker()`` and, after the session stops, stage and task
metrics are attributed to it through the job group recorded in the
event log. With tracing off a span only reads the clock.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-"
TAIL_BEYOND = 10  # samples the tail percentile must leave above it


class Tracer:
    """Spans kept in memory: ``name``, ``start``/``end`` (seconds on the
    ``perf_counter`` clock), ``parent`` span id, free-form attributes,
    and with tracing on the job ids fired directly inside the span
    (``jobs``) and including nested spans (``all_jobs``). Tracing is
    off until ``sc`` is set to the session's SparkContext."""

    def __init__(self):
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "attrs": attrs,
               "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self._close_jobs(rec)

    def _close_jobs(self, rec: dict) -> None:
        group = f"{GROUP_PREFIX}{rec['id']}"
        rec["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        rec["all_jobs"] = rec["jobs"] + rec.pop("_child_jobs", [])
        if self._stack:
            parent = self._stack[-1]
            parent.setdefault("_child_jobs", []).extend(rec["all_jobs"])
            self.sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def seconds(span: dict) -> float:
    return span["end"] - span["start"]


# ---------------------------------------------------------------- stats

def tail_percentile(n: int) -> float | None:
    """The highest percentile that leaves at least ``TAIL_BEYOND`` of
    ``n`` samples above it, floored to a whole percent (one decimal
    above 99). None when fewer than ``2 * TAIL_BEYOND`` samples make
    even the median a tail with that many samples beyond it."""
    if n < 2 * TAIL_BEYOND:
        return None
    p = 100.0 * (n - TAIL_BEYOND) / n
    return math.floor(p * 10) / 10 if p > 99 else float(math.floor(p))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100.0 - 1e-9))
    return ordered[rank - 1]


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the tail rule; the median when there
    are too few samples for a tail."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p else (50.0, median(values))


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ event log

PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
# per-task counters summed per job group; times in seconds, sizes in MB
TASK_FIELDS = ("tasks", "task_s", "cpu_s", "gc_s", "input_mb", "shuffle_write_mb",
               "shuffle_read_mb", "spill_mb", "output_mb", "output_rows",
               *PYTHON_METRICS.values())
MB = 1024.0 * 1024.0


def _event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order: plain logs and
    the parts of rolling ``eventlog_v2_*/events_<n>_*`` directories."""
    found = []
    for root, _, files in os.walk(log_dir):
        for name in files:
            if name.startswith("appstatus") or name.endswith(".crc"):
                continue
            part = name.split("_")[1] if name.startswith("events_") else "0"
            found.append((root, int(part) if part.isdigit() else 0, name))
    return [os.path.join(root, name) for root, _, name in sorted(found)]


def _plan_metric_types(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


def _scaled(metric_type: str, value: float) -> float:
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "size":
        return value / MB
    return value


def parse_event_log(log_dir: str) -> dict:
    """Stage and task metrics per job group from a Spark JSON event log.

    Returns ``{"jobs": {job_id: group}, "stage_names": {stage_id: name},
    "groups": {group: {"jobs", "stages", "stage_task_s": {stage_id:
    seconds}, <TASK_FIELDS>}}}``.
    Tasks are attributed to the group of the first job that ran their
    stage. Python-worker metrics are the SQL accumulables of the same
    tasks, scaled by their declared metric type."""
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    stage_names: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group_rec(group):
        if group not in groups:
            groups[group] = {"jobs": 0, "stages": 0, "stage_task_s": {},
                             **{k: 0.0 for k in TASK_FIELDS}}
        return groups[group]

    python_updates = []  # (group, accumulator id, name, update)
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a log still being written
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = group
                    group_rec(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_names[sid] = ev["Stage Info"].get("Stage Name", "")
                    group_rec(stage_group.get(sid))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    rec = group_rec(group)
                    _add_task(rec, ev)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        if acc.get("Name") in PYTHON_METRICS and "Update" in acc:
                            python_updates.append((group, acc["ID"], acc["Name"], acc["Update"]))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_metric_types(ev.get("sparkPlanInfo") or {}, metric_type)
    for group, acc_id, name, update in python_updates:
        groups[group][PYTHON_METRICS[name]] += _scaled(metric_type.get(acc_id, ""), float(update))
    return {"jobs": job_group, "stage_names": stage_names, "groups": groups}


def _add_task(rec: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    if not m:
        return
    run_s = m.get("Executor Run Time", 0) / 1e3
    rec["tasks"] += 1
    rec["task_s"] += run_s
    sid = ev["Stage ID"]
    rec["stage_task_s"][sid] = rec["stage_task_s"].get(sid, 0.0) + run_s
    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    inp = m.get("Input Metrics") or {}
    rec["input_mb"] += inp.get("Bytes Read", 0) / MB
    out = m.get("Output Metrics") or {}
    rec["output_mb"] += out.get("Bytes Written", 0) / MB
    rec["output_rows"] += out.get("Records Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    sw = m.get("Shuffle Write Metrics") or {}
    rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None
