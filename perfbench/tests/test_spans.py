"""Self time of nested spans."""

from perfbench.spans import Span, Tracer, self_time


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children_once():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("stage") as stage:
        clock.t = 1.0
        with tr.span("write"):
            clock.t = 4.0
            with tr.span("inner"):  # a grandchild is not subtracted twice
                clock.t = 5.0
        clock.t = 6.0
        with tr.span("lineage"):
            clock.t = 8.0
        clock.t = 10.0
    assert stage.duration == 10.0
    assert self_time(stage, tr.children(stage)) == 10.0 - 4.0 - 2.0
    write = tr.named("write")[0]
    assert self_time(write, tr.children(write)) == 3.0
    assert [s.name for s in tr.subtree(stage)] == ["stage", "write", "lineage", "inner"]


def test_overlapping_and_clipped_children():
    parent = Span(0, "p", None, start=0.0, end=10.0)
    kids = [
        Span(1, "a", 0, start=1.0, end=4.0),
        Span(2, "b", 0, start=3.0, end=6.0),   # overlaps a: union 1..6
        Span(3, "c", 0, start=9.0, end=12.0),  # clipped to 9..10
    ]
    assert self_time(parent, kids) == 10.0 - 5.0 - 1.0


def test_wrap_opens_span_only_when_gated():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer(clock=FakeClock())
    tr.wrap(mod, "f", "layer.f", when=lambda t: t.current is not None)
    assert mod.f(1) == 2 and tr.spans == []
    with tr.span("outer"):
        assert mod.f(2) == 3
    assert [s.name for s in tr.spans] == ["outer", "layer.f"]
    tr.uninstall()
    assert not hasattr(mod.f, "__wrapped__")


def test_overhead_counts_recording_and_tap_sees_calls():
    import types

    seen = []
    mod = types.SimpleNamespace(f=lambda x: x * 2)
    tr = Tracer()
    tr.tap(mod, "f", lambda a, k: seen.append(a))
    with tr.span("outer"):
        assert mod.f(3) == 6
    assert seen == [(3,)]
    assert tr.overhead > 0.0
    tr.uninstall()
    assert mod.f(1) == 2 and len(seen) == 1
