import types

import pytest

from perfbench.trace import Span, Tracer, covered, patch_everywhere, self_times


def _span(sid, parent, start, end, name="s"):
    return Span(sid, name, 1, parent, start, end)


def test_self_time_of_nested_spans():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 0, 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    # nested spans: self times add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_with_overlapping_children_counts_overlap_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 5.0),
        _span(2, 0, 3.0, 7.0),  # overlaps span 1 on [3, 5]
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)  # 10 - |[1, 7]|


def test_child_running_past_its_parent_is_clipped():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 6.0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_covered_merges_disjoint_and_touching_intervals():
    assert covered([(0, 1), (1, 2), (5, 6)], 0, 10) == pytest.approx(3.0)
    assert covered([], 0, 10) == 0.0


def test_tracer_nests_spans_and_wrapped_calls():
    t = Tracer()
    t.op = 4

    def inner(x):
        return x + 1

    wrapped = t.wrap("inner", inner, on_result=lambda v: seen.append(v))
    seen = []
    with t.span("outer"):
        assert wrapped(1) == 2
    outer, child = t.spans
    assert (outer.name, outer.parent) == ("outer", None)
    assert (child.name, child.parent, child.op) == ("inner", outer.sid, 4)
    assert outer.start <= child.start <= child.end <= outer.end
    assert seen == [2]


def test_spans_closed_out_of_order_are_rejected():
    t = Tracer()
    a = t.begin("a")
    t.begin("b")
    with pytest.raises(RuntimeError):
        t.end(a)


def test_patch_everywhere_rebinds_names_imported_elsewhere(monkeypatch):
    import sys

    def original():
        return "orig"

    defining = types.ModuleType("pb_fake_defining")
    user = types.ModuleType("pb_fake_user")
    defining.load = original
    user.load = original  # as `from defining import load` would bind it
    monkeypatch.setitem(sys.modules, "pb_fake_defining", defining)
    monkeypatch.setitem(sys.modules, "pb_fake_user", user)

    def replacement():
        return "wrapped"

    assert patch_everywhere(original, replacement) == 2
    assert defining.load() == user.load() == "wrapped"
