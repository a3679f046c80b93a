"""Tracing from outside the program: job groups, Catalyst phase times and
Spark's own event log.

Each traced call runs under its own Spark job group. After the traced
passes, the (uncompressed, non-rolling) event log is read once and every
job, stage and task is charged to the group its job started in. Streaming
micro-batches run under the query's run id as job group, so a stream
append is charged through its run id.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path


def event_log_conf(log_dir: Path) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def catalyst_ms(df) -> float:
    """Force analysis, optimization and physical planning of `df` and
    return the three phases' summed duration in ms, as recorded by the
    query's own planning tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


@dataclass
class GroupStats:
    """What the event log says about one job group."""

    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0  # executor run time, summed over tasks
    cpu_ms: float = 0.0  # executor CPU time, summed over tasks
    critical_ms: float = 0.0  # summed over stages: the stage's largest task
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # memory + disk bytes spilled

    @property
    def max_task_share(self) -> float:
        """Share of task time spent in each stage's largest task: 1.0
        when every stage is a single task, 1/n for n balanced tasks."""
        return self.critical_ms / self.run_ms if self.run_ms else 0.0


_WANTED = ("SparkListenerJobStart", "SparkListenerTaskEnd")


def read_event_log(path: Path) -> dict[str, GroupStats]:
    """Per job group statistics from one application's event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            head = line[:48]
            if not any(w in head for w in _WANTED):
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                groups[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                continue
            group = stage_group.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if group is None or not metrics:
                continue
            g = groups[group]
            g.tasks += 1
            run = float(metrics.get("Executor Run Time", 0))
            g.run_ms += run
            g.cpu_ms += metrics.get("Executor CPU Time", 0) / 1e6
            g.shuffle_bytes += metrics.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0
            )
            stage_tasks[ev["Stage ID"]].append(run)
    for sid, runs in stage_tasks.items():
        groups[stage_group[sid]].critical_ms += max(runs)
    return dict(groups)


def merge(stats: list[GroupStats]) -> GroupStats:
    out = GroupStats()
    for s in stats:
        out.jobs += s.jobs
        out.tasks += s.tasks
        out.run_ms += s.run_ms
        out.cpu_ms += s.cpu_ms
        out.critical_ms += s.critical_ms
        out.shuffle_bytes += s.shuffle_bytes
        out.spill_bytes += s.spill_bytes
    return out
