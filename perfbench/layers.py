"""Per-layer metrics of a traced run, named `<module>.<function>.<measure>`
after the repository's modules, plus `<section>.<measure>` totals.

Which end-to-end figure each family should move, and on which
workload, is mapped in perfbench/README.md.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from sparktrace import GroupStats, merge, read_event_log
from workloads import CALLS, SINK_LAYOUT, STREAM

STREAM_PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def names() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, which direction is better)."""
    out: dict[str, tuple[str, str]] = {}
    for sec, calls in CALLS.items():
        for call in calls:
            out[f"{call}.wall_s"] = ("s", "lower")
            out[f"{call}.jobs"] = ("count", "lower")
            if sec != "chain-ingest":
                out[f"{call}.build_s"] = ("s", "lower")
                out[f"{call}.max_task_share"] = ("share", "lower")
    for table in SINK_LAYOUT:
        out[f"sources.sinks.{table}.bytes_out"] = ("bytes", "lower")
        out[f"sources.sinks.{table}.files"] = ("count", "lower")
    for m in STREAM_PHASES:
        out[f"{STREAM}.{m}"] = ("ms", "lower")
    out[f"{STREAM}.batches_per_append"] = ("count", "lower")
    out[f"{STREAM}.nonterminated"] = ("count", "lower")
    for sec in CALLS:
        out[f"{sec}.plan_s"] = ("s", "lower")
        out[f"{sec}.shuffle_bytes"] = ("bytes", "lower")
        out[f"{sec}.spill_bytes"] = ("bytes", "lower")
        out[f"{sec}.cpu_per_wall"] = ("ratio", "higher")
    return out


def _median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def per_layer(runs: dict, log_dir: Path) -> tuple[dict, list[str]]:
    """`runs` maps a section name to (recorder, pass count). Returns the
    metrics {name: (value, unit)} and notes for the human summary."""
    logs = sorted(p for p in log_dir.iterdir() if p.is_file())
    groups: dict[str, GroupStats] = {}
    for log in logs:
        groups.update(read_event_log(log))
    units = names()
    values: dict[str, float] = {}
    notes: list[str] = []
    for sec, (rec, n_passes) in runs.items():
        samples = [s for s in rec.samples if s.section == sec]
        for call in CALLS[sec]:
            mine = [s for s in samples if s.call == call]
            stats = [groups.get(s.group, GroupStats()) for s in mine]
            jobs = [g.jobs for g in stats]
            if len(set(jobs)) > 1:
                notes.append(f"{call}: job count differs between requests {jobs}")
            values[f"{call}.wall_s"] = _median(s.wall_s for s in mine)
            values[f"{call}.jobs"] = _median(jobs)
            if f"{call}.build_s" in units:
                values[f"{call}.build_s"] = _median(s.build_s for s in mine)
                values[f"{call}.max_task_share"] = merge(stats).max_task_share
            if call.startswith("sources.sinks."):
                values[f"{call}.bytes_out"] = _median(s.extra["bytes_out"] for s in mine)
                values[f"{call}.files"] = _median(s.extra["files"] for s in mine)
            if call == STREAM:
                for m, key in STREAM_PHASES.items():
                    values[f"{call}.{m}"] = _median(
                        sum(p.get(key, 0) for p in s.extra["progress"]) for s in mine
                    )
                values[f"{call}.batches_per_append"] = _median(len(s.extra["progress"]) for s in mine)
                values[f"{call}.nonterminated"] = float(sum(s.extra["nonterminated"] for s in mine))
        total = merge([groups.get(s.group, GroupStats()) for s in samples])
        plan_ms = sum(s.plan_ms for s in samples) + sum(
            p.get("queryPlanning", 0) for s in samples for p in s.extra.get("progress", [])
        )
        wall_ms = sum(s.wall_s for s in samples) * 1000
        values[f"{sec}.plan_s"] = plan_ms / 1000 / n_passes
        values[f"{sec}.shuffle_bytes"] = total.shuffle_bytes / n_passes
        values[f"{sec}.spill_bytes"] = total.spill_bytes / n_passes
        values[f"{sec}.cpu_per_wall"] = total.cpu_ms / wall_ms if wall_ms else 0.0
        notes.append(f"{sec}: {total.jobs / n_passes:.0f} jobs, {total.tasks / n_passes:.0f} tasks per pass")
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {k: (values[k], units[k][0]) for k in units}, notes
