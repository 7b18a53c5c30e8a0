"""Per-op Spark metrics from an uncompressed Spark event log.

Every op runs under its own job group, so a job belongs to the op whose
id is its ``spark.jobGroup.id`` property. A stage that several jobs list
ran in the first of them; later jobs skip it.
"""

from __future__ import annotations

import json
from collections import defaultdict

TASK_SUMS = {
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "result_bytes": lambda m: m.get("Result Size", 0),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
    "shuffle_read_bytes": lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
    ),
}


def new_record() -> dict:
    rec = {k: 0.0 for k in TASK_SUMS}
    rec.update(jobs=0, stages=0, tasks=0, peak_execution_memory_bytes=0, job_intervals=[])
    return rec


def parse(lines) -> dict[str, dict]:
    """Job-group id → metrics of the jobs, stages and tasks it ran.
    ``job_intervals`` are ``(submit, complete)`` in epoch seconds."""
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(new_record)
    stages_seen: set[int] = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_start[jid] = ev["Submission Time"] / 1e3
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            group = job_group.get(jid)
            rec = out[group]
            rec["jobs"] += 1
            rec["job_intervals"].append((job_start[jid], ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            rec = out[job_group.get(stage_job.get(sid))]
            rec["tasks"] += 1
            if sid not in stages_seen:
                stages_seen.add(sid)
                rec["stages"] += 1
            metrics = ev.get("Task Metrics") or {}
            for key, get in TASK_SUMS.items():
                rec[key] += get(metrics)
            rec["peak_execution_memory_bytes"] = max(
                rec["peak_execution_memory_bytes"], metrics.get("Peak Execution Memory", 0)
            )
    return dict(out)


def parse_file(path: str) -> dict[str, dict]:
    with open(path) as fh:
        return parse(fh)
