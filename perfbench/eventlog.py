"""Spark event-log parser: jobs, tasks and their metrics per pass.

The benchmark switches the log on by configuration only
(``spark.eventLog.enabled``, uncompressed) and reads the JSON-lines file
after the session stops. A job belongs to the span whose job group it
carries; a job with no benchmark group (launched from a thread that lost
the group, e.g. a ``run_parallel`` worker) belongs to the innermost span
open at its submission time on any thread, and counts as unlabelled.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None
    group: str | None
    stage_ids: list[int]


@dataclass
class Task:
    stage_id: int
    task_type: str
    launch_ms: int
    finish_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    def stage_job(self) -> dict[int, int]:
        """stage id -> the first job that lists it (the one that ran it;
        later jobs reuse its shuffle output as a skipped stage)."""
        out: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid].stage_ids:
                out.setdefault(sid, jid)
        return out


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                ev["Submission Time"],
                None,
                props.get("spark.jobGroup.id"),
                list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            log.tasks.append(
                Task(
                    ev["Stage ID"],
                    ev.get("Task Type", ""),
                    info["Launch Time"],
                    info["Finish Time"],
                    m.get("Executor CPU Time", 0),
                    m.get("JVM GC Time", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                )
            )
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def pass_metrics(
    log: EventLog,
    t0_ms: int,
    t1_ms: int,
    slots: int,
    spans: list[tuple[str, str, int, int]],
) -> dict:
    """Engine numbers for one pass [t0_ms, t1_ms].

    ``spans`` lists the pass's spans as (group, name, start_ms, end_ms).
    Returns the pass's job count, unlabelled jobs, tasks, map tasks
    (``ShuffleMapTask``, whichever span launched them), time with no job
    in flight, slot occupancy, executor CPU, GC, shuffle write and spill,
    plus per-span-name job and task counts (``by_span``) with the task
    type split."""
    by_group = {g: n for g, n, _, _ in spans}
    jobs = [j for j in log.jobs.values() if t0_ms <= j.submit_ms <= t1_ms]
    owner: dict[int, str | None] = {}
    unlabelled = 0
    for j in jobs:
        if j.group in by_group:
            owner[j.job_id] = by_group[j.group]
            continue
        if not (j.group or "").startswith(GROUP_PREFIX):
            unlabelled += 1
        open_spans = [s for s in spans if s[2] <= j.submit_ms <= s[3]]
        # innermost = the latest-starting span still open at submission
        owner[j.job_id] = max(open_spans, key=lambda s: s[2])[1] if open_spans else None
    stage_job = log.stage_job()
    tasks = [t for t in log.tasks if stage_job.get(t.stage_id) in owner]
    busy = covered_ms([(j.submit_ms, j.end_ms or t1_ms) for j in jobs], t0_ms, t1_ms)
    wall_ms = max(1, t1_ms - t0_ms)
    by_span: dict[str, Counter] = defaultdict(Counter)
    for j in jobs:
        by_span[owner[j.job_id] or "(none)"]["jobs"] += 1
    for t in tasks:
        by_span[owner[stage_job[t.stage_id]] or "(none)"][t.task_type or "Task"] += 1
    return {
        "jobs": len(jobs),
        "unlabelled_jobs": unlabelled,
        "tasks": len(tasks),
        "tasks_per_job": len(tasks) / len(jobs) if jobs else 0.0,
        "map_tasks": sum(t.task_type == "ShuffleMapTask" for t in tasks),
        "no_job_s": (wall_ms - busy) / 1000.0,
        "slot_occupancy": sum(t.finish_ms - t.launch_ms for t in tasks) / (slots * wall_ms),
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / 1e6,
        "spill_mb": sum(t.spill_bytes for t in tasks) / 1e6,
        "by_span": {k: dict(v) for k, v in by_span.items()},
    }

