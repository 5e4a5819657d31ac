"""Span self time, interval unions and the offline event-log parser."""

from __future__ import annotations

import json

from perfbench.trace import Tracer, event_log_files, parse_event_log, self_time, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(5, 6), (0, 10)]) == 10.0


def test_self_time_subtracts_covered_child_time():
    parent = {"id": 0, "start": 0.0, "end": 10.0, "parent": None}
    kids = [
        {"id": 1, "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "start": 3.0, "end": 5.0, "parent": 0},  # overlaps the first
        {"id": 3, "start": 9.0, "end": 12.0, "parent": 0},  # runs past the parent
        {"id": 4, "start": 2.0, "end": 3.0, "parent": 1},  # grandchild: not subtracted twice
    ]
    assert self_time(parent, [parent, *kids]) == 10.0 - 4.0 - 1.0


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x", group=True):
        pass
    t.record("y", 0.0, 1.0)
    assert t.spans == [] and t.bookkeeping_s == 0.0


def test_parse_event_log_groups_jobs_and_tasks(tmp_path):
    def task(stage, run, cpu_ns, shuffle=0, spill=0, gc=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        task(0, 100, 50_000_000, shuffle=10),
        task(1, 300, 150_000_000, spill=7, gc=20),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 0, "Stage IDs": [3], "Properties": {}},
        task(3, 999, 1),
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events[:4]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[4:]) + "\n")
    (app / "appstatus_local-1").write_text("")
    assert [p.name for p in event_log_files(tmp_path)] == ["events_1_local-1", "events_2_local-1"]
    out = parse_event_log(event_log_files(tmp_path))
    assert set(out) == {"span-1"}
    g = out["span-1"]
    assert g["tasks"] == 2 and g["run_ms"] == 400 and g["cpu_ms"] == 200.0
    assert g["shuffle_write_b"] == 10 and g["spill_b"] == 7 and g["gc_ms"] == 20
    assert g["job_s"] == 2.0  # jobs 1.0-2.0 s and 1.5-3.0 s overlap


def test_benchmark_json_lists_the_catalogue():
    from pathlib import Path

    from perfbench import layers

    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
