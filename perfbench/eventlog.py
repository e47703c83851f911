"""Stage and task metrics from a Spark event log, per job group.

The traced run tags each measured pass with ``SparkContext.setJobGroup``;
``by_group`` maps every task of the log to the group of the job that ran
its stage.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path


def _read(log_dir: Path):
    for f in sorted(log_dir.iterdir()):
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def by_group(log_dir: Path) -> dict:
    """-> {group: {stage_id: [task dict]}}; a task dict carries
    duration_s, cpu_s, gc_s, shuffle_write_b, shuffle_read_b, spill_b and
    the shuffle record counts shuffle_write_rows, shuffle_read_rows."""
    stage_group, tasks = {}, []
    for ev in _read(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append((ev["Stage ID"], {
                "duration_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                "shuffle_write_rows": sw.get("Shuffle Records Written", 0),
                "shuffle_read_rows": sr.get("Total Records Read", 0),
                "shuffle_read_b": (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0)),
                "spill_b": (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)),
            }))
    out: dict = {}
    for sid, t in tasks:
        out.setdefault(stage_group.get(sid), {}).setdefault(sid, []).append(t)
    return out


def summarize(stages: dict) -> dict:
    """Totals over every stage of one pass, and the task spread of the
    stage whose slowest task is longest (the one a straggler sets)."""
    all_tasks = [t for ts in stages.values() for t in ts]
    if not all_tasks:
        return {"tasks": 0, "task_p50_s": 0.0, "task_max_s": 0.0,
                "straggler_ratio": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
                "spill_mb": 0.0}
    slowest = max(stages.values(),
                  key=lambda ts: max(t["duration_s"] for t in ts))
    durs = [t["duration_s"] for t in slowest]
    p50 = statistics.median(durs)
    mb = 1024.0 * 1024.0
    return {
        "tasks": len(all_tasks),
        "task_p50_s": p50,
        "task_max_s": max(durs),
        "straggler_ratio": max(durs) / p50 if p50 > 0 else 0.0,
        "executor_cpu_s": sum(t["cpu_s"] for t in all_tasks),
        "gc_s": sum(t["gc_s"] for t in all_tasks),
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in all_tasks) / mb,
        "shuffle_read_mb": sum(t["shuffle_read_b"] for t in all_tasks) / mb,
        "spill_mb": sum(t["spill_b"] for t in all_tasks) / mb,
    }


def scan_side_shuffle_records(stages: dict) -> int:
    """Records written to shuffle by the stages that read no shuffle
    input: the exchanges fed straight from the scan.  On the heavy split
    that is the explode exchange, one row per span of a gate-passing
    document and one per gate-failed document."""
    return sum(sum(t["shuffle_write_rows"] for t in ts)
               for ts in stages.values()
               if not any(t["shuffle_read_rows"] for t in ts))
