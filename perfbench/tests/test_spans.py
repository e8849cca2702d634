import pytest

import spans
from spans import Span, Tracer, covered, self_time


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([(1, 9), (2, 3)], 0, 10) == 8
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    s = [
        Span("op", "t0", 0.0, 10.0),
        Span("a", "t0", 1.0, 4.0, parent=0),
        Span("a.inner", "t0", 2.0, 3.0, parent=1),
        Span("b", "t0", 5.0, 6.5, parent=0),
    ]
    assert self_time(s, 0) == pytest.approx(10 - 3 - 1.5)
    assert self_time(s, 1) == pytest.approx(2.0)
    # the root's self time plus its children's durations is its wall time
    kids = sum(x.duration for x in s if x.parent == 0)
    assert self_time(s, 0) + kids == pytest.approx(s[0].duration)


class FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


def test_tracer_labels_jobs_with_the_open_span():
    sc = FakeContext()
    t = Tracer()
    t.bind(sc)
    t.op = "b0"
    with t.span("pipeline"):
        with t.span("router.write"):
            pass
        t.begin_phase("aggregate")
        with t.span("aggregate.hourly_counts"):
            pass
        t.end_phase()
    assert sc.descriptions == [
        "pb/b0/pipeline", "pb/b0/router.write", "pb/b0/pipeline",
        "pb/b0/aggregate", "pb/b0/aggregate.hourly_counts", "pb/b0/aggregate",
        "pb/b0/pipeline", None,
    ]
    names = {x.name: x for x in t.spans}
    assert names["aggregate"].parent == 0
    assert t.spans[names["aggregate.hourly_counts"].parent].name == "aggregate"


def test_closing_a_parent_closes_an_open_phase():
    t = Tracer()
    with t.span("pipeline"):
        t.begin_phase("aggregate")
    assert all(x.end is not None for x in t.spans)
    t.end_phase()  # no phase left: a no-op
    assert len(t.spans) == 2


def test_wrap_records_notes_and_hooks():
    t = Tracer()
    calls = []
    f = t.wrap("x", lambda a: a * 2, before=lambda: calls.append("before"),
               after=lambda: calls.append("after"), note=lambda a: {"arg": a})
    assert f(3) == 6
    assert calls == ["before", "after"]
    assert t.spans[0].attrs == {"arg": 3}


def test_instrument_restores_the_library():
    pytest.importorskip("pyspark")
    from logstash_integration_jdbc_spark import pipeline
    from logstash_integration_jdbc_spark.operators.router import Router

    before = (pipeline.hourly_counts, Router.__dict__["write_all"])
    with spans.instrument(Tracer()):
        assert pipeline.hourly_counts is not before[0]
    assert (pipeline.hourly_counts, Router.__dict__["write_all"]) == before
