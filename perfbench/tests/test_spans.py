"""Span recording and self time."""

import itertools

import pytest

from perfbench.spans import Recorder, Span, self_time


def _span(start, end, parent=1):
    return Span(0, parent, "c", "child", start, end)


def test_self_time_subtracts_children():
    parent = Span(1, None, "q", "query", 0.0, 10.0)
    assert self_time(parent, []) == 10.0
    assert self_time(parent, [_span(1.0, 3.0), _span(4.0, 8.0)]) == pytest.approx(4.0)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    parent = Span(1, None, "q", "query", 0.0, 10.0)
    children = [_span(1.0, 5.0), _span(4.0, 6.0), _span(-2.0, 0.5), _span(9.0, 12.0),
                _span(11.0, 13.0)]
    # covered: [0,0.5] + [1,6] + [9,10] = 6.5
    assert self_time(parent, children) == pytest.approx(3.5)


def test_recorder_nests_spans_and_shares_trace_id():
    ticks = itertools.count()
    rec = Recorder("t1", clock=lambda: float(next(ticks)))
    with rec.span("run", "run") as run:
        with rec.span("q", "query") as q:
            with rec.span("build", "build"):
                pass
            with rec.span("action", "action"):
                pass
        rec.add("batch 0", "micro_batch", 1.5, 2.5, q.span_id)
    assert [s.parent_id for s in rec.spans] == [None, run.span_id, q.span_id, q.span_id,
                                                q.span_id]
    assert [c.name for c in rec.children(q)] == ["build", "action", "batch 0"]
    # q runs 1..6 (5 s): the batch (1.5..2.5) and build (2..3) cover
    # 1.5 s together, the action (4..5) 1 s more
    assert self_time(q, rec.children(q)) == pytest.approx(2.5)
    doc = rec.to_json()
    assert doc["trace_id"] == "t1" and len(doc["spans"]) == 5


def test_open_span_has_no_duration():
    with pytest.raises(ValueError):
        Span(1, None, "x", "run", 0.0).duration
