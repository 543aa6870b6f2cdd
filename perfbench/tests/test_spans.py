"""Self-time arithmetic on a synthetic span tree."""

import pytest

from spans import Span, self_times


def _s(sid, start, end, parent=None):
    return Span(sid=sid, name=f"x.{sid}", start=start, end=end,
                parent=parent)


def test_self_time_subtracts_the_union_of_child_intervals():
    spans = [
        _s(0, 0.0, 10.0),
        _s(1, 1.0, 4.0, parent=0),     # overlaps 2
        _s(2, 3.0, 5.0, parent=0),
        _s(3, 7.0, 8.0, parent=0),
        _s(4, 1.5, 2.0, parent=1),     # grandchild: only its parent counts
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 - 1.0) - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)
    # self times add up to the root's duration plus the 1 s in which
    # the two overlapping siblings both ran
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)


def test_child_outside_parent_is_clipped():
    spans = [_s(0, 0.0, 2.0), _s(1, 1.5, 3.0, parent=0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(1.5)
    assert st[1] == pytest.approx(1.5)
