"""Spans around the benchmark's calls into each layer, and a parser for
the Spark event log those calls produce.

A :class:`Recorder` keeps spans in memory. While a phase span is open
it also sets the Spark job group to ``perfbench|<pass>|<query>|<phase>``,
so every job, stage and task that the call starts can be attributed to
it in the event log. :func:`parse_event_log` reads that log back and
sums stage and task metrics per job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "perfbench"
# span names that are phases: each sets the job group while it is open
PHASES = ("construct", "exec", "plotting")


@dataclass
class Span:
    name: str
    query: str
    pass_idx: int
    start: float
    end: float
    parent: int | None  # index into Recorder.spans


class Recorder:
    """In-memory span recorder. A disabled recorder records nothing and
    sets no job group, so untraced passes pay for neither."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.enabled = False
        self.pass_idx = -1
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, query: str = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, query, self.pass_idx,
                               time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        tagged = name in PHASES
        if tagged:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                f"{GROUP_PREFIX}|{self.pass_idx}|{query}|{name}")
        try:
            yield
        finally:
            if tagged:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def layer_times(self, pass_idx: int) -> dict:
        """Per span name within one pass: count, busy seconds and self
        seconds (busy minus the time its child spans cover)."""
        mine = [i for i, s in enumerate(self.spans) if s.pass_idx == pass_idx]
        child_time: dict[int, float] = defaultdict(float)
        for i in mine:
            p = self.spans[i].parent
            if p is not None:
                child_time[p] += self.spans[i].end - self.spans[i].start
        out: dict = {}
        for i in mine:
            s = self.spans[i]
            row = out.setdefault(s.name, {"count": 0, "busy_s": 0.0, "self_s": 0.0})
            busy = s.end - s.start
            row["count"] += 1
            row["busy_s"] += busy
            row["self_s"] += busy - child_time[i]
        return out


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


def _python_nodes(plan: dict, ids: dict) -> int:
    """Count the Python nodes of a plan tree: every node that reports
    data returned from Python workers (ArrowEvalPython, BatchEvalPython,
    MapInPandas, FlatMapGroupsInPandas, Python DataSource scans). Adds
    the accumulator ids of their metrics to ``ids``: all of them under
    ``any``, and the byte and row counts under ``sent``, ``received``
    and ``rows``."""
    metrics = {m["name"]: m for m in plan.get("metrics", [])}
    n = 0
    if _PY_RECEIVED in metrics:
        n = 1
        ids["any"].update(m["accumulatorId"] for m in metrics.values())
        if "number of output rows" in metrics:
            ids["rows"].add(metrics["number of output rows"]["accumulatorId"])
        for name, key in ((_PY_SENT, "sent"), (_PY_RECEIVED, "received")):
            m = metrics.get(name)
            # Python DataSource scans report these bytes as a custom
            # metric that, in Spark 4.1, keeps growing over the life of
            # a reused Python worker: not a per-task amount, so skipped
            if m and not m.get("metricType", "").startswith("v2Custom"):
                ids[key].add(m["accumulatorId"])
    for child in plan.get("children", []):
        n += _python_nodes(child, ids)
    return n


def _log_lines(log_dir: str):
    # a rolling event log: one directory of events_<n>_<app> parts
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as fh:
            yield from fh


def _group_key(group: str | None):
    if not group or not group.startswith(GROUP_PREFIX + "|"):
        return None
    _, pass_idx, query, phase = group.split("|", 3)
    return int(pass_idx), query, phase


def _new_bucket() -> dict:
    return {k: 0.0 for k in (
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
        "executor_cpu_s", "jvm_gc_s", "scheduler_delay_s", "shuffle_read_mb",
        "shuffle_write_mb", "spill_mb", "python_plan_nodes",
        "python_data_sent_mb", "python_data_received_mb",
        "python_rows_received", "python_stage_run_s")}


def parse_event_log(log_dir: str) -> dict:
    """``(pass_idx, query, phase) -> metrics`` for every job group the
    :class:`Recorder` set. Stage records are built from TaskEnd events
    and then completed, not replaced, by the StageCompleted event that
    follows them."""
    job_group: dict[int, str] = {}
    stage_group: dict[tuple, str] = {}
    stages: dict[tuple, dict] = defaultdict(lambda: {
        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "delay_ms": 0, "tasks": 0,
        "failed": 0, "sh_read": 0, "sh_write": 0, "spill": 0, "accums": {}})
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    py_ids: dict[str, set] = {k: set() for k in ("any", "sent", "received", "rows")}

    for line in _log_lines(log_dir):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a torn last line of an unfinished log
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = group
        elif kind == "SparkListenerTaskEnd":
            st = stages[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))]
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            st["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                st["failed"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            st["run_ms"] += run_ms
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            # scheduler delay as the Spark UI computes it
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            getting = ti.get("Getting Result Time", 0)
            getting = ti.get("Finish Time", 0) - getting if getting else 0
            st["delay_ms"] += max(0, dur - run_ms
                                  - tm.get("Executor Deserialize Time", 0)
                                  - tm.get("Result Serialization Time", 0)
                                  - getting)
            sr = tm.get("Shuffle Read Metrics") or {}
            st["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["sh_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["spill"] += tm.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))]
            st["accums"].update(
                {a["ID"]: _num(a.get("Value")) for a in info.get("Accumulables", [])})
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_group[ev["executionId"]] = ev.get("jobGroupId")
            exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            _python_nodes(ev["sparkPlanInfo"], py_ids)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # nodes are counted on the final plan; metric ids are kept
            # from every plan, since stages may have run under an earlier one
            exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
            _python_nodes(ev["sparkPlanInfo"], py_ids)

    out: dict = defaultdict(_new_bucket)
    for job, group in job_group.items():
        key = _group_key(group)
        if key:
            out[key]["jobs"] += 1
    for ex, plan in exec_plan.items():
        key = _group_key(exec_group.get(ex))
        if key:
            out[key]["python_plan_nodes"] += _python_nodes(plan, py_ids)
    for sid, st in stages.items():
        key = _group_key(stage_group.get(sid))
        if key is None:
            continue
        b = out[key]
        b["stages"] += 1
        b["tasks"] += st["tasks"]
        b["failed_tasks"] += st["failed"]
        b["executor_run_s"] += st["run_ms"] / 1e3
        b["executor_cpu_s"] += st["cpu_ns"] / 1e9
        b["jvm_gc_s"] += st["gc_ms"] / 1e3
        b["scheduler_delay_s"] += st["delay_ms"] / 1e3
        b["shuffle_read_mb"] += st["sh_read"] / 2**20
        b["shuffle_write_mb"] += st["sh_write"] / 2**20
        b["spill_mb"] += st["spill"] / 2**20
        acc = st["accums"]
        if not py_ids["any"].isdisjoint(acc):
            b["python_stage_run_s"] += st["run_ms"] / 1e3
        b["python_rows_received"] += sum(acc.get(a, 0.0) for a in py_ids["rows"])
        b["python_data_sent_mb"] += sum(acc.get(a, 0.0) for a in py_ids["sent"]) / 2**20
        b["python_data_received_mb"] += sum(
            acc.get(a, 0.0) for a in py_ids["received"]) / 2**20
    return dict(out)
