"""Per-span Spark metrics from an uncompressed, non-rolling Spark event log.

The benchmark tags every call it times with a Spark job group named after
its span (``preprocess.extract``, ``queries.cold``, ...). Jobs carry that
group in their properties, so stages and tasks are attributed to spans
through the job that ran them. Only the standard library is used.
"""

from __future__ import annotations

import json
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks")
SECONDS = ("executor_cpu_s", "executor_run_s", "gc_s", "sched_delay_s")
BYTES = ("shuffle_bytes", "spill_bytes", "input_bytes", "output_bytes")
UNGROUPED = "unattributed"


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def parse(lines) -> dict:
    """Read event-log lines into ``{"groups": {group: metrics},
    "job_intervals": {group: [(start_ms, end_ms), ...]}}``.

    Metrics per group: jobs, stages (completed attempts), tasks, executor
    CPU/run/GC seconds, scheduling delay (stage wall minus its longest task),
    shuffle-write, spill, input and output bytes."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_longest: dict[tuple[int, int], float] = defaultdict(float)
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNGROUPED
            job_group[ev["Job ID"]] = group
            job_start[ev["Job ID"]] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            groups[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            intervals[job_group[jid]].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], UNGROUPED)
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            g = groups[group]
            g["tasks"] += 1
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            stage_longest[key] = max(stage_longest[key],
                                     info["Finish Time"] - info["Launch Time"])
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"], UNGROUPED)
            g = groups[group]
            g["stages"] += 1
            if "Submission Time" in info and "Completion Time" in info:
                wall = info["Completion Time"] - info["Submission Time"]
                longest = stage_longest[(info["Stage ID"], info["Stage Attempt ID"])]
                g["sched_delay_s"] += max(0.0, wall - longest) / 1e3
    return {
        "groups": {k: {m: v.get(m, 0.0) for m in COUNTERS + SECONDS + BYTES}
                   for k, v in groups.items()},
        "job_intervals": dict(intervals),
    }


def span_metrics(parsed: dict, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Join parsed groups with the benchmark's spans (``name``, ``start`` and
    ``end`` in epoch ms). Span names are dotted paths, and a span counts the
    jobs of its own group and of every group below it (``process`` covers
    ``process.load``). A span may run several times (once per query): its
    wall time is summed, and ``driver_s`` is the wall time not covered by
    any of its running jobs."""
    out: dict[str, dict[str, float]] = {}
    for name in dict.fromkeys(s["name"] for s in spans):
        groups = [g for g in parsed["groups"] if g == name or g.startswith(name + ".")]
        mine = [s for s in spans if s["name"] == name]
        wall = sum(s["end"] - s["start"] for s in mine)
        jobs = [iv for g in groups for iv in parsed["job_intervals"].get(g, [])]
        covered = sum(
            _union_ms([(max(lo, s["start"]), min(hi, s["end"]))
                       for lo, hi in jobs if hi > s["start"] and lo < s["end"]])
            for s in mine
        )
        m = {k: sum(parsed["groups"][g][k] for g in groups)
             for k in COUNTERS + SECONDS + BYTES}
        m["s"] = wall / 1e3
        m["driver_s"] = max(0.0, wall - covered) / 1e3
        out[name] = m
    return out
