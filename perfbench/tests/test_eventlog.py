import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "eventlog_fixture.jsonl")


@pytest.fixture(scope="module")
def rolls():
    return eventlog.read(FIXTURE)


def test_jobs_are_charged_to_their_label(rolls):
    assert set(rolls) == {("b0", "router.write"), ("b0", "aggregate"), ("b1", "router.write")}
    assert eventlog.merge(rolls, "b0").jobs == 2
    assert eventlog.merge(rolls, "b1").jobs == 1


def test_router_rollup(rolls):
    r = eventlog.merge(rolls, "b0", ("router.write",))
    assert r.tasks == 5
    assert r.map_cpu_s == pytest.approx(1.0)  # only the stage that wrote shuffle
    assert r.total("cpu_s") == pytest.approx(1.3)
    assert r.total("shuffle_write_bytes") == 200
    assert r.total("spill_bytes") == 21
    assert r.total("output_bytes") == 900
    assert r.reduce_skew == pytest.approx(6.0 / 2.0)


def test_sql_metrics_from_tasks_and_driver(rolls):
    r = eventlog.merge(rolls, "b0", ("router.write",))
    assert r.sql["scan_rows"] == 1000  # string task updates, summed
    assert r.sql["scan_files"] == 4  # driver-side update
    assert r.sql["broadcast_bytes"] == 2048
    assert r.sql["files_written"] == 6


def test_unlabelled_work_is_ignored(rolls):
    whole = eventlog.merge(rolls, "b0")
    assert whole.total("cpu_s") == pytest.approx(1.3)
    assert eventlog.merge(rolls, "b0", ("aggregate",)).total("input_bytes") == 50


def test_parse_label():
    assert eventlog.parse_label("pb/b3/scan.cursors") == ("b3", "scan.cursors")
    assert eventlog.parse_label("pb/b3") is None
    assert eventlog.parse_label("count at x.py:1") is None
    assert eventlog.parse_label(None) is None
