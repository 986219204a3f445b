import json

import pytest

from perfbench.spans import (
    Span,
    TaskTotals,
    Tracer,
    parse_event_log,
    self_times,
    tasks_by_op,
    wrap_method,
)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "a"),
        Span(1, "x", 1.0, 4.0, 0, "a"),
        Span(2, "y", 3.0, 5.0, 0, "a"),  # overlaps x: covered part is 1..5
        Span(3, "z", 4.5, 4.75, 2, "a"),  # grandchild: counts against y only
        Span(4, "w", 8.0, 12.0, 0, "a"),  # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0 - 0.25)
    assert st[3] == pytest.approx(0.25)
    assert st[4] == pytest.approx(4.0)


def test_tracer_records_parent_and_op():
    tr = Tracer()
    tr.op = "q1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.op = "q2"
    with tr.span("next"):
        pass
    outer, inner, nxt = tr.spans
    assert (outer.parent, inner.parent, nxt.parent) == (None, outer.sid, None)
    assert [s.op for s in tr.spans] == ["q1", "q1", "q2"]
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert [s.name for s in tr.op_spans("q1")] == ["outer", "inner"]


class _FakeSC:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_tracer_sets_and_restores_job_group():
    sc = _FakeSC()
    tr = Tracer(sc)
    seen = []
    with tr.span("outer"):
        seen.append(sc.props["spark.jobGroup.id"])
        with tr.span("inner"):
            seen.append(sc.props["spark.jobGroup.id"])
        seen.append(sc.props["spark.jobGroup.id"])
    assert seen == ["pb-0", "pb-1", "pb-0"]
    assert sc.props["spark.jobGroup.id"] is None



def test_span_without_group_keeps_the_enclosing_job_group():
    sc = _FakeSC()
    calls = []
    sc.setJobGroup = lambda gid, desc: calls.append(gid) or sc.props.update({"spark.jobGroup.id": gid})
    tr = Tracer(sc)
    seen = []
    with tr.span("outer"):
        with tr.span("score", group=False) as score:
            seen.append(sc.props["spark.jobGroup.id"])
            with tr.span("collect"):
                seen.append(sc.props["spark.jobGroup.id"])
            seen.append(sc.props["spark.jobGroup.id"])
    assert seen == ["pb-0", "pb-2", "pb-0"]
    assert calls == ["pb-0", "pb-2", "pb-0"]
    assert score.parent == 0 and tr.spans[2].parent == score.sid

def test_wrap_method_records_counts_and_restores():
    class Thing:
        def work(self, n):
            return list(range(n))

    tr = Tracer()
    restore = wrap_method(Thing, "work", tr, "layer.work", lambda s, a, kw, out: s.counts.update(n=len(out)))
    assert Thing().work(3) == [0, 1, 2]
    restore()
    Thing().work(5)
    assert [(s.name, s.counts) for s in tr.spans] == [("layer.work", {"n": 3})]


def _ev(**kw):
    return json.dumps(kw)


def test_parse_event_log_attributes_tasks_to_job_groups():
    lines = [
        _ev(Event="SparkListenerApplicationStart"),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "pb-3"}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 250,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}, "Disk Bytes Spilled": 7}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 500_000_000, "JVM GC Time": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}, "Disk Bytes Spilled": 0}}),
        # a later job reusing stage 1 does not take it over
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1, 2], "Properties": {}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor CPU Time": 1_000_000_000}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": None}),
        "",
    ]
    groups = parse_event_log(lines)
    assert set(groups) == {"pb-3", ""}
    g = groups["pb-3"]
    assert (g.tasks, g.shuffle_write_bytes, g.spill_bytes) == (2, 100, 7)
    assert g.cpu_s == pytest.approx(2.5)
    assert g.gc_s == pytest.approx(0.25)
    assert groups[""].tasks == 1 and groups[""].cpu_s == pytest.approx(1.0)


def test_tasks_by_op_sums_spans_of_each_op():
    spans = [Span(0, "op", 0, 1, None, "a"), Span(1, "x", 0, 1, 0, "a"), Span(2, "op", 1, 2, None, "b")]
    groups = {"pb-0": TaskTotals(tasks=1, cpu_s=1.0), "pb-1": TaskTotals(tasks=2, cpu_s=0.5),
              "pb-2": TaskTotals(tasks=1, spill_bytes=9), "": TaskTotals(tasks=5)}
    per_op = tasks_by_op(spans, groups)
    assert per_op["a"].tasks == 3 and per_op["a"].cpu_s == pytest.approx(1.5)
    assert per_op["b"].spill_bytes == 9
