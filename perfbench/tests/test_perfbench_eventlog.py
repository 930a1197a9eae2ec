"""Event-log parser on a small recorded log: three jobs of a 2-core local
session, tagged ``layer.a`` (count), ``layer.b`` (group-by collect) and one
untagged ``first()``."""

import json
import os

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "eventlog_small.jsonl")


def _events():
    with open(LOG) as fh:
        return [json.loads(line) for line in fh]


def _parsed():
    with open(LOG) as fh:
        return eventlog.parse(fh)


def test_jobs_stages_and_tasks_are_attributed_to_their_group():
    groups = _parsed()["groups"]
    assert set(groups) == {"layer.a", "layer.b", eventlog.UNGROUPED}
    assert [groups[g]["jobs"] for g in ("layer.a", "layer.b")] == [1, 1]
    task_ends = sum(e["Event"] == "SparkListenerTaskEnd" for e in _events())
    assert sum(g["tasks"] for g in groups.values()) == task_ends
    stages = sum(e["Event"] == "SparkListenerStageCompleted" for e in _events())
    assert sum(g["stages"] for g in groups.values()) == stages


def test_task_metrics_are_summed_in_seconds_and_bytes():
    events = _events()
    stage_group = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            for sid in e["Stage IDs"]:
                stage_group[sid] = e["Properties"].get("spark.jobGroup.id")
    b_tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"
               and stage_group[e["Stage ID"]] == "layer.b"]
    got = _parsed()["groups"]["layer.b"]
    cpu = sum(t["Task Metrics"]["Executor CPU Time"] for t in b_tasks) / 1e9
    shuffle = sum(t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                  for t in b_tasks)
    assert abs(got["executor_cpu_s"] - cpu) < 1e-9
    assert got["shuffle_bytes"] == shuffle > 0


def test_scheduling_delay_is_stage_wall_minus_longest_task():
    events = _events()
    stage0 = next(e["Stage Info"] for e in events
                  if e["Event"] == "SparkListenerStageCompleted"
                  and e["Stage Info"]["Stage ID"] == 0)
    longest = max(e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]
                  for e in events
                  if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] == 0)
    stage1 = [e for e in events if e["Event"] == "SparkListenerStageCompleted"
              and e["Stage Info"]["Stage ID"] == 1][0]["Stage Info"]
    longest1 = max(e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]
                   for e in events
                   if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] == 1)
    want = (stage0["Completion Time"] - stage0["Submission Time"] - longest
            + stage1["Completion Time"] - stage1["Submission Time"] - longest1) / 1e3
    assert abs(_parsed()["groups"]["layer.a"]["sched_delay_s"] - want) < 1e-9


def test_driver_time_is_span_wall_not_covered_by_jobs():
    parsed = _parsed()
    (lo, hi), = parsed["job_intervals"]["layer.a"]
    spans = [{"name": "layer.a", "start": lo - 500, "end": hi + 250},
             {"name": "layer.none", "start": hi, "end": hi + 100}]
    got = eventlog.span_metrics(parsed, spans)
    assert abs(got["layer.a"]["driver_s"] - 0.75) < 1e-9
    assert abs(got["layer.a"]["s"] - (hi - lo + 750) / 1e3) < 1e-9
    assert got["layer.none"]["jobs"] == 0
    assert abs(got["layer.none"]["driver_s"] - 0.1) < 1e-9


def test_a_parent_span_covers_the_groups_below_it():
    parsed = _parsed()
    (lo, hi), = parsed["job_intervals"]["layer.a"]
    (lo_b, hi_b), = parsed["job_intervals"]["layer.b"]
    spans = [{"name": "layer", "start": lo, "end": hi_b},
             {"name": "layer.a", "start": lo, "end": hi}]
    got = eventlog.span_metrics(parsed, spans)
    assert got["layer"]["jobs"] == 2
    assert got["layer"]["tasks"] == got["layer.a"]["tasks"] + parsed["groups"]["layer.b"]["tasks"]
    want_driver = (hi_b - lo) - (hi - lo) - (hi_b - lo_b)
    assert abs(got["layer"]["driver_s"] - want_driver / 1e3) < 1e-9
