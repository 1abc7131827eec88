from spans import Span, Tracer, self_times


def test_self_time_of_nested_spans():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "m0"),
        Span(1, "a", 1.0, 4.0, 0, "m0"),
        Span(2, "b", 2.0, 3.0, 1, "m0"),
        Span(3, "a", 5.0, 9.0, 0, "m0"),
        Span(4, "c", 8.0, 12.0, 3, "m0"),  # runs past its parent: clipped
        Span(5, "op", 20.0, 21.0, None, "w0"),
    ]
    assert self_times(spans) == {0: 3.0, 1: 2.0, 2: 1.0, 3: 3.0, 4: 4.0, 5: 1.0}


def test_overlapping_children_are_counted_once():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "m0"),
        Span(1, "a", 1.0, 5.0, 0, "m0"),
        Span(2, "b", 3.0, 7.0, 0, "m0"),
    ]
    assert self_times(spans)[0] == 4.0


def test_self_times_of_one_op_add_up_to_its_wall():
    t = Tracer()
    with t.span("op", op="m0"):
        with t.span("a"):
            with t.span("b"):
                pass
        with t.span("c"):
            pass
    wall = t.spans[0].end - t.spans[0].start
    assert abs(sum(self_times(t.spans).values()) - wall) < 1e-9
    assert {s.op for s in t.spans} == {"m0"}


def test_patch_rebinds_import_time_names_and_unpatches():
    import types
    import sys

    home = types.ModuleType("fintech_etl_spark._bench_home")
    user = types.ModuleType("fintech_etl_spark._bench_user")
    home.f = user.f = lambda x: x + 1
    orig = home.f
    sys.modules[home.__name__], sys.modules[user.__name__] = home, user
    try:
        t = Tracer()
        t.patch(home, "f", "layer.f")
        assert user.f(1) == 2 and user.f is not orig
        assert [s.name for s in t.spans] == ["layer.f"]
        t.unpatch()
        assert home.f is orig and user.f is orig
    finally:
        del sys.modules[home.__name__], sys.modules[user.__name__]


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("op", op="m0"):
        pass
    assert t.spans == []
