"""Tracing from outside the package: Py4J round trips and Spark's event log.

Nothing here touches ``sift_spark``.  The Py4J counter wraps the gateway
client's ``send_command``; the event-log reader attributes every Spark job,
stage and task to the job group the benchmark set around the call that
launched it (``<pass>:<op>:<phase>``).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


class Py4JCounter:
    """Counts round trips through the PySpark gateway client."""

    def __init__(self, spark):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted


@dataclass
class GroupStats:
    """What Spark ran for one job group."""

    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, end) epoch s
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_fetch_wait_s: float = 0.0
    spill_memory_mb: float = 0.0
    spill_disk_mb: float = 0.0
    input_mb: float = 0.0


def _add_task(g: GroupStats, m: dict) -> None:
    g.tasks += 1
    g.exec_run_s += m.get("Executor Run Time", 0) / 1e3
    g.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1e3
    g.spill_memory_mb += m.get("Memory Bytes Spilled", 0) / MB
    g.spill_disk_mb += m.get("Disk Bytes Spilled", 0) / MB
    w = m.get("Shuffle Write Metrics", {})
    g.shuffle_write_mb += w.get("Shuffle Bytes Written", 0) / MB
    r = m.get("Shuffle Read Metrics", {})
    g.shuffle_read_mb += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)) / MB
    g.shuffle_fetch_wait_s += r.get("Fetch Wait Time", 0) / 1e3
    g.input_mb += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Per-job-group statistics from a finished application's event log."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[tuple[int, int], str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                job_submit[jid] = ev["Submission Time"] / 1e3
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                groups[job_group[jid]].jobs.append((job_submit[jid], ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = grp
                groups[grp].stages += 1
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]), "")
                _add_task(groups[grp], ev.get("Task Metrics") or {})
    return groups


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` not covered by any of ``intervals``."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)
