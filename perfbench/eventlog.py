"""Stdlib parser for an uncompressed, non-rolling Spark event log.

Jobs are attributed to the job group they were submitted under
(``spark.jobGroup.id``); stages and tasks to the first job that lists
their stage. Totals are kept per job group.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, fields

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: GroupStats) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def parse(lines) -> dict[str | None, GroupStats]:
    """Per-job-group totals from the log's JSON lines."""
    stats: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    ran_stages: set[int] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            stats[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid not in ran_stages:
                ran_stages.add(sid)
                stats[stage_group.get(sid)].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stats[stage_group.get(ev["Stage ID"])]
            g.tasks += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                g.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            g.executor_run_ms += m.get("Executor Run Time", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return dict(stats)


def parse_file(path: str) -> dict[str | None, GroupStats]:
    with open(path) as f:
        return parse(f)


def totals(stats: dict[str | None, GroupStats], pred) -> GroupStats:
    """Sum of the groups whose name satisfies ``pred``."""
    out = GroupStats()
    for group, g in stats.items():
        if group is not None and pred(group):
            out.add(g)
    return out
