"""Event-log reader, span arithmetic and prefix differences."""

import json

import pytest

from tracing import (
    Tracer,
    busy_ms,
    partial_agg_rows,
    prefix_self_times,
    read_event_log,
    stage_counters,
)


def _events():
    agg_partial = {
        "nodeName": "HashAggregate",
        "simpleString": "HashAggregate(keys=[k], functions=[partial_count(1)])",
        "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
        "children": [],
    }
    agg_final = {
        "nodeName": "HashAggregate",
        "simpleString": "HashAggregate(keys=[k], functions=[count(1)])",
        "metrics": [{"name": "number of output rows", "accumulatorId": 8}],
        "children": [{"nodeName": "Exchange", "children": [agg_partial]}],
    }
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "full", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Submission Time": 1100,
         "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": {"nodeName": "stale", "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 3, "sparkPlanInfo": agg_final},
        _task(0, run=100, cpu_ms=60, gc=5, shuffle=1024 * 1024, acc={7: 10}),
        _task(0, run=300, cpu_ms=250, gc=0, shuffle=0, acc={7: 30, 8: 4}),
        _task(1, run=200, cpu_ms=200, gc=1, shuffle=0, spill=2 * 1024 * 1024),
        _task(2, run=9999, cpu_ms=1, gc=0, shuffle=0, acc={7: 1000}),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 9000},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
    ]


def _task(stage, run, cpu_ms, gc, shuffle, spill=0, acc=None):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"ID": k, "Name": "x", "Update": str(v)} for k, v in (acc or {}).items()
        ]},
        "Task Metrics": {
            "Executor Run Time": run,
            "Executor CPU Time": cpu_ms * 1_000_000,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": 0},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


def _write_lines(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_rolling_event_log_parts_are_read_in_index_order(tmp_path):
    events = _events()
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    # index 10 sorts before 2 as text; the reader must order numerically
    _write_lines(app / "events_2_local-1", events[:3])
    _write_lines(app / "events_10_local-1", events[3:])
    _write_lines(app / "events_1_local-1", [{"Event": "SparkListenerLogStart"}])
    got = read_event_log(tmp_path)
    assert got[0] == {"Event": "SparkListenerLogStart"}
    assert got[1:] == events


def test_compressed_event_log_is_refused(tmp_path):
    app = tmp_path / "eventlog_v2_local-3"
    app.mkdir()
    (app / "events_1_local-3.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        read_event_log(tmp_path)


def test_stage_counters_cover_only_the_group():
    c = stage_counters(_events(), {"full"})
    assert c["jobs"] == 1
    assert c["tasks"] == 3
    assert c["exec_run_ms"] == 600
    assert c["exec_cpu_ms"] == pytest.approx(510)
    assert c["offcpu_ms"] == pytest.approx(90)
    assert c["gc_ms"] == 6
    assert c["shuffle_write_mb"] == pytest.approx(1.0)
    assert c["spill_mb"] == pytest.approx(2.0)
    assert c["max_task_ms"] == 300
    assert c["median_task_ms"] == 200
    assert c["job_ms"] == 600


def test_busy_time_counts_overlapping_jobs_once():
    assert busy_ms([]) == 0
    assert busy_ms([(0, 10), (5, 12), (20, 25), (21, 22)]) == 17


def test_partial_aggregate_rows_use_the_final_adaptive_plan():
    rows, nodes = partial_agg_rows(_events(), {"full"})
    assert nodes == 1
    assert rows == 40  # stage 2 belongs to another group


def test_prefix_differences_add_up_to_the_longest_prefix():
    layers = prefix_self_times(
        [("read", 1.0), ("parse", 3.5), ("aggregate", 4.0), ("aggregate", 4.25)]
    )
    assert layers == {"read": 1.0, "parse": 2.5, "aggregate": 0.75}
    assert sum(layers.values()) == pytest.approx(4.25)


def test_prefix_difference_below_noise_is_reported_negative():
    assert prefix_self_times([("a", 2.0), ("b", 1.5)]) == {"a": 2.0, "b": -0.5}


def test_nested_spans_record_their_parent():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert (inner["name"], inner["parent"]) == ("inner", "outer")
    assert outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert t.duration("outer") >= t.duration("inner")
