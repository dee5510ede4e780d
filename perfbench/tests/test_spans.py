"""Self-time and unattributed-time arithmetic, overlapping threads included."""

from __future__ import annotations

import threading
from dataclasses import asdict

import pytest

from perfbench.spans import Span, Tracer, covered, self_time, stage_times


def _span(sid, parent, name, start, end, thread="main", op="warm1"):
    return Span(sid, parent, op, name, start, end, thread)


def test_covered_counts_overlap_once():
    assert covered([]) == 0.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert covered([(1, 3), (0, 10)]) == pytest.approx(10.0)


def test_self_time_with_children_on_two_threads():
    parent = _span(1, None, "op", 0.0, 10.0)
    children = [
        _span(2, 1, "near", 1.0, 6.0, thread="t0"),
        _span(3, 1, "substring", 4.0, 8.0, thread="t1"),  # overlaps near
        _span(4, 1, "late", 9.5, 12.0, thread="t2"),  # runs past the parent
    ]
    # covered: [1, 8) + [9.5, 10) = 7.5
    assert self_time(parent, children) == pytest.approx(2.5)


def test_stage_times_sums_wall_and_self_per_stage_name():
    spans = [
        _span(1, None, "op", 0.0, 10.0),
        _span(2, 1, "docs", 0.0, 1.0),
        _span(3, 1, "signatures", 1.0, 4.0, thread="t0"),
        _span(4, 1, "substring", 1.0, 7.0, thread="t1"),
        _span(5, 4, "inner", 2.0, 3.0, thread="t1"),
        _span(6, 1, "clusters", 8.0, 8.5),
        _span(7, 1, "clusters", 8.5, 9.5),
        # another op's spans are ignored
        _span(8, None, "op", 20.0, 30.0, op="cold"),
    ]
    t = stage_times([asdict(s) for s in spans], "warm1")
    assert t["op_wall_s"] == pytest.approx(10.0)
    # covered by stages: [0, 7) + [8, 9.5)
    assert t["unattributed_s"] == pytest.approx(1.5)
    assert t["stages"]["substring"] == {
        "wall_s": pytest.approx(6.0), "self_s": pytest.approx(5.0)}
    assert t["stages"]["clusters"]["wall_s"] == pytest.approx(1.5)
    assert t["stages"]["inner"]["self_s"] == pytest.approx(1.0)


def test_tracer_parents_spans_by_thread_and_root():
    tr = Tracer()
    tr.op = "warm1"
    with tr.span("op") as root:
        tr.root = root
        with tr.span("docs"):
            pass

        def branch():
            with tr.span("signatures", root=tr.root):
                pass

        th = threading.Thread(target=branch)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["op"].parent is None
    assert by_name["docs"].parent == root
    assert by_name["signatures"].parent == root
    assert by_name["signatures"].thread != by_name["docs"].thread
    assert all(s.op == "warm1" for s in tr.spans)
