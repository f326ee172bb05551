"""Fold an uncompressed Spark event log into per-job-group totals.

Jobs carry their group in the ``spark.jobGroup.id`` property of
``SparkListenerJobStart``; tasks name their stage, and stages name their
job.  For every group the fold sums task metrics (executor run time, GC,
shuffle write, spill, output), the Python-boundary SQL metrics ("data
sent to / returned from Python workers") and the output rows of every
join node, and keeps per-stage task run times for the skew ratio.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field, fields

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
OUTPUT_ROWS = "number of output rows"


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    output_records: int = 0
    output_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    join_rows: int = 0
    # stage id -> task executor run times (ms)
    stage_tasks: dict = field(default_factory=dict)

    def add(self, other: "GroupTotals") -> "GroupTotals":
        out = GroupTotals(stage_tasks={**self.stage_tasks, **other.stage_tasks})
        for f in fields(self):
            if f.name != "stage_tasks":
                setattr(out, f.name, getattr(self, f.name) + getattr(other, f.name))
        return out

    @property
    def task_skew(self) -> float:
        """Largest max/median task run time over stages with >= 2 tasks
        (1.0 when no stage has two tasks)."""
        worst = 1.0
        for times in self.stage_tasks.values():
            if len(times) < 2:
                continue
            med = statistics.median(times)
            worst = max(worst, max(times) / med if med > 0 else 1.0)
        return worst


def applications(log_dir: str) -> list[list[str]]:
    """Event files per application under a log dir, in order: Spark 4
    writes one rolling directory (eventlog_v2_<app>/events_<n>_<app>)
    per application."""
    apps = []
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files = glob.glob(os.path.join(d, "events_*"))
        apps.append(sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1])))
    return apps


def _join_row_ids(plan: dict, out: set) -> None:
    if "Join" in plan.get("nodeName", "") or "CartesianProduct" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == OUTPUT_ROWS:
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _join_row_ids(child, out)


def fold(lines) -> dict[str, GroupTotals]:
    """Fold one application's event-log JSON lines (an iterable of str) by
    job group.  Jobs without a group fold under the key ''."""
    stage_group: dict[int, str] = {}
    join_ids: set[int] = set()
    out: dict[str, GroupTotals] = {}
    task_events = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, GroupTotals()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[int(sid)] = group
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _join_row_ids(ev.get("sparkPlanInfo", {}), join_ids)
        elif kind == "SparkListenerTaskEnd":
            task_events.append(ev)
    # tasks are folded last: plan infos for AQE re-plans may be logged
    # after some of the tasks that update their metrics
    for ev in task_events:
        sid = int(ev["Stage ID"])
        g = out.setdefault(stage_group.get(sid, ""), GroupTotals())
        m = ev.get("Task Metrics") or {}
        run = int(m.get("Executor Run Time", 0))
        g.tasks += 1
        g.executor_run_ms += run
        g.gc_ms += int(m.get("JVM GC Time", 0))
        g.spill_bytes += int(m.get("Memory Bytes Spilled", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        g.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
        g.shuffle_records += int(sw.get("Shuffle Records Written", 0))
        om = m.get("Output Metrics") or {}
        g.output_records += int(om.get("Records Written", 0))
        g.output_bytes += int(om.get("Bytes Written", 0))
        g.stage_tasks.setdefault(sid, []).append(run)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = acc.get("Name")
            try:
                upd = int(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name == PY_SENT:
                g.py_sent_bytes += upd
            elif name == PY_RETURNED:
                g.py_returned_bytes += upd
            elif name == OUTPUT_ROWS and int(acc.get("ID", -1)) in join_ids:
                g.join_rows += upd
    return out


def fold_dir(log_dir: str) -> dict[str, GroupTotals]:
    """Fold every application under log_dir separately (stage ids restart
    in each) and add the results by group."""
    out: dict[str, GroupTotals] = {}

    def lines(files):
        for path in files:
            with open(path, encoding="utf-8") as f:
                yield from f

    for files in applications(log_dir):
        for group, totals in fold(lines(files)).items():
            out[group] = out[group].add(totals) if group in out else totals
    return out


def total(folded: dict[str, GroupTotals], groups) -> GroupTotals:
    acc = GroupTotals()
    for g in groups:
        if g in folded:
            acc = acc.add(folded[g])
    return acc
