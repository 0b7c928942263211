from perfbench.spans import Span, Tracer, covered, self_times


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, 0)


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(1, 2), (0, 10)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),  # overlaps span 1 (another thread)
        _span(3, 2.0, 3.0, parent=1),  # grandchild: counts against span 1 only
        _span(4, 6.0, 12.0, parent=0),  # runs past its parent: clipped to 10
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (4.0 + 4.0)
    assert st[1] == 3.0 - 1.0
    assert st[2] == 2.0
    assert st[3] == 1.0
    assert st[4] == 6.0


def test_tracer_records_parent_and_step_and_unwraps():
    import types

    mod = types.SimpleNamespace(work=lambda x: x * 2)
    tr = Tracer(enabled=True)
    tr.step = 7
    tr.wrap(mod, "work", "work")
    with tr.span("step"):
        assert mod.work(3) == 6
    tr.unwrap()
    assert mod.work(3) == 6
    outer, inner = tr.spans
    assert (outer.name, inner.name) == ("step", "work")
    assert inner.parent == outer.id and outer.parent is None
    assert inner.step == outer.step == 7
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert len(tr.spans) == 2  # the unwrapped call recorded nothing


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("step"):
        pass
    assert tr.spans == []
