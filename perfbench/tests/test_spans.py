"""Span self-time arithmetic and the tracer's wrapping."""

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.spans import (ACTIONS, Span, Tracer, covered,  # noqa: E402
                             layer_seconds, self_times)


def _s(i, parent, layer, start, end):
    return Span(i, parent, 1, layer, f"f{i}", 0, start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5)]) == 4          # overlap merged
    assert covered(0, 10, [(1, 2), (4, 6)]) == 3          # disjoint summed
    assert covered(2, 8, [(0, 3), (7, 12)]) == 2          # clipped to span
    assert covered(0, 10, [(11, 12)]) == 0                # outside


def test_self_time_is_duration_minus_children():
    spans = [_s(1, None, "runner", 0.0, 10.0),
             _s(2, 1, "engine", 1.0, 4.0),
             _s(3, 2, "compiler", 2.0, 3.0),
             _s(4, 1, "audio", 5.0, 6.5)]
    st = self_times(spans)
    assert st[1] == 10.0 - 3.0 - 1.5
    assert st[2] == 3.0 - 1.0       # grandchild not subtracted from root
    assert st[3] == 1.0
    assert st[4] == 1.5
    layers = layer_seconds(spans)["plan"]
    assert layers == {"runner": 5.5, "engine": 2.0, "compiler": 1.0,
                      "audio": 1.5}
    # self times partition the root's interval exactly
    assert sum(layers.values()) == 10.0


def test_action_time_goes_to_the_calling_layer():
    spans = [_s(1, None, "runner", 0.0, 10.0),
             _s(2, 1, ACTIONS, 1.0, 7.0),       # the runner's fused action
             _s(3, 2, ACTIONS, 2.0, 6.0),       # nested: not counted again
             _s(4, 1, "sinks", 7.0, 9.0),
             _s(5, 4, ACTIONS, 7.5, 8.5),
             _s(6, None, ACTIONS, 11.0, 12.0)]  # no caller: no layer
    d = layer_seconds(spans)
    assert d["action"] == {"runner": 6.0, "sinks": 1.0}
    assert d["plan"] == {"runner": 10.0 - 6.0 - 2.0, "sinks": 1.0}


def test_concurrent_children_are_not_double_subtracted():
    spans = [_s(1, None, "runner", 0.0, 10.0),
             _s(2, 1, "a", 1.0, 5.0),
             _s(3, 1, "b", 3.0, 7.0)]
    assert self_times(spans)[1] == 4.0


def test_tracer_records_parent_and_restores_on_uninstall():
    import types
    mod = types.ModuleType("jio_spark._perfbench_probe")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2
    mod.inner, mod.outer = inner, outer
    sys.modules[mod.__name__] = mod
    try:
        t = Tracer()
        t.install({"inner": [(mod.__name__, "inner")],
                   "outer": [(mod.__name__, "outer")]})
        assert mod.outer(1) == 4 and t.spans == []    # disabled: no spans
        t.enabled, t.trace = True, 7
        assert mod.outer(1) == 4
        done = threading.Event()
        threading.Thread(target=lambda: (mod.inner(0), done.set())).start()
        assert done.wait(5)
        t.enabled = False
        by_name = {s.name: s for s in t.spans if s.trace == 7}
        o, i = by_name[f"{mod.__name__}.outer"], [
            s for s in t.spans if s.layer == "inner"]
        assert o.parent is None
        assert sorted(s.parent for s in i if s.parent is not None) == [o.id]
        assert any(s.parent is None for s in i)   # other thread: a root
        t.uninstall()
        assert mod.inner is inner and mod.outer is outer
    finally:
        del sys.modules[mod.__name__]


def test_pool_tasks_nest_under_the_submitting_span():
    import types
    from concurrent.futures import ThreadPoolExecutor
    mod = types.ModuleType("jio_spark._perfbench_pool_probe")

    def leaf(x):
        return x

    def fan_out(n):
        with ThreadPoolExecutor(2) as pool:
            return sum(pool.map(mod.leaf, range(n)))
    mod.leaf, mod.fan_out = leaf, fan_out
    sys.modules[mod.__name__] = mod
    orig_submit = ThreadPoolExecutor.__dict__["submit"]
    try:
        t = Tracer()
        t.install({"leaf": [(mod.__name__, "leaf")],
                   "fan": [(mod.__name__, "fan_out")]})
        t.enabled = True
        assert mod.fan_out(4) == 6
        t.enabled = False
        root = next(s for s in t.spans if s.layer == "fan")
        leaves = [s for s in t.spans if s.layer == "leaf"]
        assert len(leaves) == 4
        assert all(s.parent == root.id for s in leaves)
        assert all(s.thread != root.thread for s in leaves)
        t.uninstall()
        assert ThreadPoolExecutor.__dict__["submit"] is orig_submit
    finally:
        del sys.modules[mod.__name__]
