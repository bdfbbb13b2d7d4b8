import types

import spans


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_union_of_children():
    clock = Clock()
    tr = spans.Tracer(clock=clock)
    with tr.span("outer"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("grandchild"):
                clock.t = 3.5
        clock.t = 4.0
        with tr.span("b"):
            clock.t = 6.0
        clock.t = 10.0
    outer, a, grand, b = tr.spans
    assert (a.parent, grand.parent, b.parent) == (outer.id, a.id, outer.id)
    assert tr.self_time(outer) == 10.0 - (2.5 + 2.0)
    assert tr.self_time(a) == 2.0
    # overlapping children (other threads) are counted once
    tr.spans.append(spans.Span(4, "c", 5.0, 7.0, outer.id))
    assert tr.self_time(outer) == 10.0 - (2.5 + 3.0)


def test_wrap_and_unwrap_module_attribute(tmp_path):
    import sys

    mod = types.ModuleType("perfbench_fake_mod")
    mod.f = lambda x: x + 1
    sys.modules[mod.__name__] = mod
    try:
        tr = spans.Tracer()
        tr.wrap(mod.__name__, "f", "fake.f")
        assert mod.f(1) == 2 and len(tr.of("fake.f")) == 1
        tr.unwrap_all()
        mod.f(1)
        assert len(tr.of("fake.f")) == 1
        tr.dump(str(tmp_path / "spans.json"))
        assert (tmp_path / "spans.json").read_text().startswith("[{")
    finally:
        del sys.modules[mod.__name__]
