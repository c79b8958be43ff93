"""Offline reader for Spark's JSON event log.

The benchmark tags every job it starts with the local property
``perfbench.tag`` (``workload|query|phase|pass``). This module reads the log
after the session has stopped and totals, per tag, the jobs, stages and
task metrics that ran under it, plus the SQL metrics the tasks reported
(scan time and the Python-runner metrics among them).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

TAG_KEY = "perfbench.tag"

# SQL metric types and the factor that turns a raw value into seconds
# (timings) or leaves it as a count of bytes/rows
_SQL_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Layer:
    """Totals of everything that ran under one tag."""

    jobs: int = 0
    job_intervals: list = field(default_factory=list)  # (start_ms, end_ms)
    stages: int = 0
    serial_stage_s: float = 0.0  # wall of single-task stages
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_bytes: int = 0
    sql: dict = field(default_factory=dict)  # metric name -> total

    def add(self, other: "Layer") -> None:
        for k, v in vars(other).items():
            if k == "job_intervals":
                self.job_intervals.extend(v)
            elif k == "sql":
                for name, x in v.items():
                    self.sql[name] = self.sql.get(name, 0) + x
            else:
                setattr(self, k, getattr(self, k) + v)

    @property
    def job_s(self) -> float:
        return union_s(self.job_intervals)


def union_s(intervals) -> float:
    """Seconds covered by the union of ``(start_ms, end_ms)`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def parse(lines) -> dict[str, Layer]:
    """Totals per tag from an iterable of event-log lines. Jobs without a
    tag are left out."""
    stage_tag: dict[int, str] = {}
    job_tag: dict[int, tuple[str, int]] = {}
    acc_meta: dict[int, tuple[str, str]] = {}
    raw_sql: dict[tuple[str, int], float] = {}
    layers: dict[str, Layer] = {}

    def layer(tag: str) -> Layer:
        return layers.setdefault(tag, Layer())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(TAG_KEY)
            if tag is None:
                continue
            job_tag[ev["Job ID"]] = (tag, ev["Submission Time"])
            for sid in ev.get("Stage IDs", ()):
                stage_tag[sid] = tag
        elif kind == "SparkListenerJobEnd":
            hit = job_tag.pop(ev["Job ID"], None)
            if hit is not None:
                tag, start = hit
                lay = layer(tag)
                lay.jobs += 1
                lay.job_intervals.append((start, ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            tag = stage_tag.get(info["Stage ID"])
            if tag is None:
                continue
            lay = layer(tag)
            lay.stages += 1
            if info.get("Number of Tasks") == 1:
                lay.serial_stage_s += (
                    info.get("Completion Time", 0) - info.get("Submission Time", 0)
                ) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev["Stage ID"])
            if tag is None:
                continue
            lay = layer(tag)
            lay.tasks += 1
            m = ev.get("Task Metrics") or {}
            lay.task_run_s += m.get("Executor Run Time", 0) / 1e3
            lay.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            lay.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            lay.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            lay.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            lay.spill_bytes += m.get("Disk Bytes Spilled", 0)
            lay.scan_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Metadata") != "sql" or "Update" not in acc:
                    continue
                key = (tag, acc["ID"])
                raw_sql[key] = raw_sql.get(key, 0) + float(acc["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_meta)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", ()):
                acc_meta[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))

    for (tag, acc_id), value in raw_sql.items():
        name, mtype = acc_meta.get(acc_id, (None, None))
        if name is None:
            continue
        sql = layer(tag).sql
        sql[name] = sql.get(name, 0) + value * _SQL_SCALE.get(mtype, 1)
    return layers


def parse_file(path: str) -> dict[str, Layer]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)
