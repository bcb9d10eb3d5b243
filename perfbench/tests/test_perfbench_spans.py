"""Self-time arithmetic over nested spans, and attribution of event-log
stage metrics to the spans whose job groups submitted them."""

import json

import pytest

from spans import (
    Span, Tracer, group_id, layer_metrics, parse_event_log, self_times, span_metrics,
    union_length,
)


def test_union_length_merges_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6)
    assert union_length([(-5, -1), (11, 20)], 0, 10) == 0
    assert union_length([(0, 10), (2, 3)], 0, 10) == 10


def nested():
    # pass [0, 10] > a [1, 5] > a1 [2, 4];  pass > b [4, 7];  c [12, 13] alone
    return [
        Span(0, "pass", None, 0, 0.0, 10.0),
        Span(1, "a", 0, 0, 1.0, 5.0),
        Span(2, "a1", 1, 0, 2.0, 4.0),
        Span(3, "b", 0, 0, 4.0, 7.0),
        Span(4, "c", None, None, 12.0, 13.0),
    ]


def test_self_time_subtracts_direct_children_once():
    st = self_times(nested())
    assert st[0] == pytest.approx(10 - 6)  # a and b overlap at 4..5: union is 1..7
    assert st[1] == pytest.approx(4 - 2)  # only its own child a1
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def _events(*evs):
    return [json.dumps(e) for e in evs]


def _job(jid, group, start_ms, end_ms, stage):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms,
         "Stage IDs": [stage], "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0, "Submission Time": start_ms}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": start_ms + 500, "Finish Time": end_ms},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
                          "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def test_event_log_metrics_attribute_to_job_groups():
    lines = _events(
        *_job(0, group_id(2), 2500, 3500, 0),  # inside a1
        *_job(1, group_id(3), 5000, 6000, 1),  # inside b
        *_job(2, None, 11000, 11500, 2),  # outside every span
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1,
         "Properties": {}},  # never finished: dropped
    )
    jobs, by_group = parse_event_log(lines)
    assert len(jobs) == 3
    assert by_group[group_id(2)] == {
        "executor_cpu_s": 2.0, "gc_s": 0.1, "shuffle_write_bytes": 1000,
        "spill_bytes": 10, "task_wait_s": 0.5,
    }
    m = span_metrics(nested(), jobs, by_group)
    # ancestors include descendants' jobs; leaves only their own
    assert m[0]["executor_cpu_s"] == 4.0 and m[1]["executor_cpu_s"] == 2.0
    assert m[2]["executor_cpu_s"] == 2.0 and m[3]["shuffle_write_bytes"] == 1000
    assert m[4]["executor_cpu_s"] == 0.0
    # driver time: duration not covered by any job of the subtree
    assert m[0]["driver_s"] == pytest.approx(10 - 2)
    assert m[1]["driver_s"] == pytest.approx(4 - 1)
    assert m[4]["driver_s"] == pytest.approx(1)


def test_layer_metrics_average_over_timed_passes():
    spans = nested() + [Span(5, "a", None, 1, 20.0, 22.0)]
    out = layer_metrics(spans, [], {}, n_passes=2)
    assert out["a.wall_s"] == pytest.approx((4 + 2) / 2)
    assert "c.wall_s" not in out  # outside every timed pass


class FakeContext:
    def __init__(self):
        self.props = {}
        self.seen = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value
        self.seen.append(value)


def test_tracer_sets_and_restores_job_group():
    sc = FakeContext()
    tr = Tracer(sc)
    tr.pass_id = 3
    with tr.span("outer"):
        with tr.span("inner"):
            assert sc.props["spark.jobGroup.id"] == group_id(1)
        assert sc.props["spark.jobGroup.id"] == group_id(0)
    assert "spark.jobGroup.id" not in sc.props
    assert [s.parent for s in tr.spans] == [None, 0]
    assert all(s.pass_id == 3 and s.end >= s.start for s in tr.spans)
