import pytest

import report
from spans import Span


def pipeline_op():
    spans = [Span("pipeline", "b0", 0.0, 10.0)]
    for name, a, b in [("scan.plan", 0.1, 0.2), ("parse.plan", 0.2, 0.4),
                       ("lookup.plan", 0.4, 0.5), ("lookup.plan", 0.5, 1.0),
                       ("router.write", 1.0, 5.0), ("aggregate", 5.0, 7.0),
                       ("scan.cursors", 7.0, 8.5), ("checkpoint.write", 8.5, 8.6)]:
        spans.append(Span(name, "b0", a, b, parent=0))
    spans.append(Span("aggregate.hourly_counts", "b0", 5.5, 5.6, parent=6))
    spans.append(Span("pipeline", "b1", 20.0, 21.0))  # another op
    detail = {"metrics": {"stages": {"scan": {"rows": 100}, "parse": {"parse_hits": 85},
                                     "enrich": {"lookups_ok": 80}},
                          "agg_rows": {"matched": 7, "failed": 2}}}
    return spans, detail


def test_children_and_self_time_account_for_the_wall():
    spans, detail = pipeline_op()
    m = report.op_metrics(spans, {}, "b0", detail)
    parts = sum(m[k] for k in report.SPAN_METRICS.values()) + m["pipeline.self_s"]
    assert parts == pytest.approx(10.0)
    assert m["lookup.plan_s"] == pytest.approx(0.6)
    assert m["pipeline.self_s"] == pytest.approx(0.1 + 1.4)
    assert m["parse.hit_ratio"] == pytest.approx(0.85)
    assert m["aggregate.rows_out"] == 9
    assert m["dedup.candidate_pairs"] == 0


def test_every_layer_metric_is_reported():
    spans, detail = pipeline_op()
    m = report.op_metrics(spans, {}, "b0", detail)
    m.update(report.setup_metrics(spans, "bsetup"))
    missing = set(report.PER_LAYER) - set(m)
    assert all(k.startswith(("trace.", "session.", "setup.")) for k in missing)
