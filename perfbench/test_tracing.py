"""Tests for the benchmark's helpers on small canned inputs.

    python -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

import tracing
from tracing import Span, parse_event_log, percentile, self_time, tail_percentile


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, "r")


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(range(15)) is None  # the median has 7 beyond
    assert tail_percentile(range(20)) == (50.0, 9)  # 10 beyond the median
    # 1000 samples: p99 leaves exactly 10 beyond, p99.9 only 1
    p, v = tail_percentile(range(1000))
    assert (p, v) == (99.0, 989)
    p, _ = tail_percentile(range(200))
    assert p == 95.0


def test_tail_percentile_counts_ties_as_not_beyond():
    xs = [1.0] * 30 + [2.0] * 5
    assert tail_percentile(xs) is None


def test_self_time_subtracts_children_once():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 5.0, 1), _span(4, 8.0, 12.0, 1)]
    # children cover [1,5] and [8,10] inside the parent: 4 + 2
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0


def test_tracer_records_parent_and_request():
    tr = tracing.Tracer()
    with tr.span("outer", "req-1"):
        with tr.span("inner"):
            pass
    outer, inner = tr.named("outer")[0], tr.named("inner")[0]
    assert inner.parent == outer.id and inner.request == "req-1"
    assert tr.children(outer) == [inner]
    assert tr.descendants(outer) == {outer.id, inner.id}


def test_tracer_wrap_and_restore():
    class Mod:
        @staticmethod
        def f(a, root=""):
            return a + 1

    tr = tracing.Tracer()
    tr.wrap(Mod, "f", lambda args, kw: f"call:{kw.get('root')}")
    assert Mod.f(1, root="x") == 2
    assert [s.name for s in tr.spans] == ["call:x"]
    tr.unwrap_all()
    Mod.f(1)
    assert len(tr.spans) == 1


EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {tracing.SPAN_PROPERTY: "7"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Info": {"Launch Time": 1001, "Finish Time": 1500, "Accumulables": [
         {"ID": 3, "Name": "data returned from Python workers", "Update": "120",
          "Value": "120"}]},
     "Task Metrics": {"Executor Run Time": 400, "JVM GC Time": 20,
                      "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
                      "Output Metrics": {"Bytes Written": 0}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Info": {"Launch Time": 1600, "Finish Time": 1900, "Accumulables": []},
     "Task Metrics": {"Executor Run Time": 250, "JVM GC Time": 0,
                      "Shuffle Read Metrics": {"Remote Bytes Read": 10,
                                               "Local Bytes Read": 290,
                                               "Total Records Read": 4},
                      "Output Metrics": {"Bytes Written": 77}}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    # a later job re-lists stage 1 (skipped) and runs stage 2 untagged
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100,
     "Stage IDs": [1, 2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
     "Task Info": {"Launch Time": 2101, "Finish Time": 2200},
     "Task Metrics": {"Executor Run Time": 90}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2300},
]


def test_parse_event_log_attributes_tasks_to_spans():
    log = parse_event_log(json.dumps(e) for e in EVENTS)
    assert len(log.tasks) == 3
    mine = log.tasks_of_spans({7})
    assert [t.stage for t in mine] == [0, 1]
    tot = tracing.totals(mine)
    assert tot["tasks"] == 2
    assert tot["run_s"] == pytest.approx(0.65)
    assert tot["gc_s"] == pytest.approx(0.02)
    assert tot["shuffle_write_bytes"] == 300
    assert tot["shuffle_read_bytes"] == 300
    assert tot["spill_bytes"] == 11
    assert tot["bytes_written"] == 77
    assert mine[0].accumulables["data returned from Python workers"] == 120
    assert log.stages_of_spans({7}) == {0, 1}
    assert log.job_wall_s({7}) == pytest.approx(1.0)
    assert [t.stage for t in log.tasks_between(2000, 2500)] == [2]


def test_benchmark_json_lists_the_per_layer_metrics():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import workloads

    path = os.path.join(root, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared == workloads.per_layer_names()


def test_scaled_latencies_use_the_canary_around_each_operation():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import workloads

    res = workloads.Result(latencies=[2.0, 4.0], canary=[0.04, 0.08, 0.04])
    ref = workloads.CANARY_REF_S
    assert res.scaled_latencies() == pytest.approx([2.0 * ref / 0.06, 4.0 * ref / 0.06])
