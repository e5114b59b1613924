"""Per-layer cost ledger from a Spark event log.

The traced run sets a job group (`spark.jobGroup.id`) on the calling thread
around each layer call and writes an uncompressed event log. This module
folds that log into, per job group: jobs, tasks, executor run time, JVM GC
time, shuffle bytes written, and the union of the group's stage intervals,
from which the caller derives the driver-side gap (span wall time minus the
time at least one of the group's stages was running).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupCost:
    jobs: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    stage_intervals: list[tuple[int, int]] = field(default_factory=list)

    def stage_busy_ms(self, lo_ms: float, hi_ms: float) -> float:
        """Length of the union of stage intervals, clipped to [lo_ms, hi_ms]."""
        busy, end = 0.0, lo_ms
        for s, e in sorted(self.stage_intervals):
            s, e = max(s, end), min(e, hi_ms)
            if e > s:
                busy += e - s
                end = e
        return busy


@dataclass
class Ledger:
    groups: dict[str, GroupCost]
    # submission time (epoch ms) of every job that carried no job group
    ungrouped_job_times: list[int]

    def unattributed_jobs(self, lo_ms: float, hi_ms: float) -> int:
        return sum(1 for t in self.ungrouped_job_times if lo_ms <= t <= hi_ms)


def parse(path: str) -> Ledger:
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, GroupCost] = defaultdict(GroupCost)
    ungrouped: list[int] = []

    def group_of_stage(stage_id: int) -> str | None:
        job = stage_job.get(stage_id)
        return job_group.get(job) if job is not None else None

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
                if group is None:
                    ungrouped.append(ev.get("Submission Time", 0))
                else:
                    groups[group].jobs += 1
            elif kind == "SparkListenerTaskEnd":
                group = group_of_stage(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = groups[group]
                g.tasks += 1
                g.executor_run_ms += m.get("Executor Run Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = group_of_stage(info["Stage ID"])
                s, e = info.get("Submission Time"), info.get("Completion Time")
                if group is not None and s is not None and e is not None:
                    groups[group].stage_intervals.append((s, e))
    return Ledger(dict(groups), ungrouped)
