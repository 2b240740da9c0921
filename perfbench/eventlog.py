"""Stdlib reducer for an uncompressed Spark event log.

Sums task metrics per job group. A job's group comes from the
``spark.jobGroup.id`` property of its ``SparkListenerJobStart`` event; a
task belongs to the job that most recently listed the task's stage (a
stage runs its tasks under one job, and later jobs that list it skip it).
Jobs outside any group are reported under the empty string.

File scans are summed per group and scanned location too: the "size of
files read" metric of each scan node in a SQL execution's plan, posted by
the driver after partition pruning, goes to the group of the execution's
jobs.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
EXECUTION_PROP = "spark.sql.execution.id"
SCAN_BYTES = "size of files read"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0  # shuffle read (local + remote) plus shuffle write
    spill_bytes: int = 0  # memory plus disk spill
    input_bytes: int = 0
    output_bytes: int = 0
    # (submission, completion) of each job, epoch seconds
    job_spans: list = field(default_factory=list)
    # scanned location -> bytes of the files the scans selected
    scan_bytes: dict = field(default_factory=dict)


def event_files(log_dir: str) -> list:
    """The event files under ``log_dir``, in index order: Spark 4 writes a
    rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_events(paths: list):
    for p in paths:
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _task_sums(stats: GroupStats, m: dict) -> None:
    stats.tasks += 1
    stats.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
    stats.gc_s += m.get("JVM GC Time", 0) / 1000.0
    stats.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    stats.shuffle_bytes += (
        sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0)
        + sw.get("Shuffle Bytes Written", 0)
    )
    stats.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    stats.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)


def _scan_nodes(plan: dict, execution, out: dict) -> None:
    """{accumulator id: (execution, location)} of the scanned-bytes metric
    of every file scan in a plan tree."""
    loc = (plan.get("metadata") or {}).get("Location")
    for m in plan.get("metrics", []):
        if loc and m.get("name") == SCAN_BYTES:
            out[m["accumulatorId"]] = (execution, loc.rsplit("[", 1)[-1].rstrip("]"))
    for child in plan.get("children", []):
        _scan_nodes(child, execution, out)


def reduce_events(events) -> dict:
    """{job group: GroupStats} over an iterable of event-log records."""
    groups: dict = {}
    job_group: dict = {}
    job_start: dict = {}
    stage_job: dict = {}
    execution_group: dict = {}
    scan_acc: dict = {}
    acc_value: dict = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _scan_nodes(ev["sparkPlanInfo"], ev["executionId"], scan_acc)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in ev["accumUpdates"]:
                acc_value[acc] = value
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            group = props.get(GROUP_PROP) or ""
            job_group[jid] = group
            if EXECUTION_PROP in props:
                execution_group.setdefault(int(props[EXECUTION_PROP]), group)
            job_start[jid] = ev.get("Submission Time", 0) / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            groups.setdefault(group, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_spans.append(
                    (job_start[jid], ev.get("Completion Time", 0) / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            group = job_group.get(jid, "")
            _task_sums(groups.setdefault(group, GroupStats()),
                       ev.get("Task Metrics") or {})
    for acc, (execution, loc) in scan_acc.items():
        if acc in acc_value and execution in execution_group:
            stats = groups[execution_group[execution]]
            stats.scan_bytes[loc] = stats.scan_bytes.get(loc, 0) + acc_value[acc]
    return groups


def reduce_log_dir(log_dir: str) -> dict:
    files = event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return reduce_events(read_events(files))


# --- interval arithmetic for self and driver time -------------------------


def merge(intervals) -> list:
    """Sorted, disjoint union of (start, end) intervals."""
    out: list = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def subtract(base, cut) -> list:
    """``base`` minus ``cut``, both lists of intervals."""
    out = merge(base)
    for cs, ce in merge(cut):
        nxt = []
        for s, e in out:
            if ce <= s or cs >= e:
                nxt.append((s, e))
                continue
            if s < cs:
                nxt.append((s, cs))
            if ce < e:
                nxt.append((ce, e))
        out = nxt
    return out


def length(intervals) -> float:
    return sum(e - s for s, e in merge(intervals))
