"""Span bookkeeping and event-log attribution, on a small recorded run
(``data/``, regenerated by ``record_eventlog.py``)."""

import json
import os

import pytest

from lakebench.trace import (
    SpanRecorder,
    layer_metrics,
    parse_event_log,
    self_times,
    union_length,
)

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "small_spans.jsonl")) as fh:
        spans = [json.loads(line) for line in fh]
    return spans, parse_event_log(os.path.join(DATA, "small_eventlog.json"))


def _ids(spans, name):
    return [s["id"] for s in spans if s["name"] == name]


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_subtracts_children_once():
    rec = SpanRecorder()
    rec.spans = [
        {"id": 0, "name": "op", "parent": None, "op": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "op": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "op": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 1, "op": 0, "start": 1.0, "end": 2.0},
    ]
    st = self_times(rec.spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_span_recorder_nests_and_shares_op_id():
    rec = SpanRecorder()
    rec.op_id = 4
    with rec.span("op"):
        with rec.span("inner"):
            pass
    outer, inner = rec.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["op"] == inner["op"] == 4
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_jobs_are_attributed_to_the_span_that_launched_them(recorded):
    spans, log = recorded
    runs = _ids(spans, "exec.run")
    assert len(runs) == 2
    assert all(log[i]["jobs"] >= 1 and log[i]["tasks"] >= 1 for i in runs)
    assert all(i not in log or log[i]["jobs"] == 0 for i in _ids(spans, "queries.plan_build"))
    assert -1 not in log  # nothing ran outside a span
    py, agg = runs
    assert log[py]["python_ms"] > 0 and log[py]["python_sent_b"] > 0
    assert log[agg]["python_ms"] == 0 and log[agg]["shuffle_write_b"] > 0
    assert all(log[i]["stage_intervals"] and log[i]["sql_intervals"] for i in runs)


def test_layer_metrics_account_for_the_operation_wall(recorded):
    spans, log = recorded
    m = layer_metrics(spans, log, ops=[0, 1], cores=2)
    parts = m["queries.plan_build_s"] + m["exec.stage_busy_s"] + m["exec.driver_gap_s"]
    assert parts == pytest.approx(m["exec.op_wall_s"], rel=0.05)
    assert m["operators.python_s"] > 0
    assert 0 < m["operators.python_share"] <= 1
    assert m["exec.jobs"] >= 1 and m["exec.tasks"] >= 2
    assert 0 < m["exec.core_util"] <= 1
    only_agg = layer_metrics(spans, log, ops=[1], cores=2)
    assert only_agg["operators.python_s"] == 0
