import threading
import types

import pytest

from perfbench.trace import Tracer, _covered


def test_covered_merges_overlaps_and_clips():
    assert _covered(0, 10, []) == 0
    assert _covered(0, 10, [(1, 3), (2, 4), (6, 7)]) == 4
    assert _covered(0, 10, [(-5, 2), (9, 20)]) == 3
    assert _covered(0, 10, [(3, 3), (5, 4)]) == 0


def test_self_time_subtracts_children_once():
    t = Tracer("r")
    root = t.add("q", "plans", 0.0, 10.0, None)
    t.add("load", "tables", 1.0, 3.0, root.sid)
    t.add("load", "tables", 2.0, 4.0, root.sid)      # overlaps the first
    t.add("put", "sinks", 5.0, 6.0, root.sid)
    t.add("put", "sinks", 5.5, 6.5, root.sid)        # parallel sender
    got = t.self_times()
    assert got["plans"] == pytest.approx(10 - 3 - 1.5)
    assert got["tables"] == pytest.approx(4.0)
    assert got["sinks"] == pytest.approx(2.0)


def test_wrappers_span_and_unpatch():
    mod = types.ModuleType("fakepkg.mod")
    other = types.ModuleType("fakepkg.other")

    def load(x):
        return x + 1

    mod.load = load
    other.load = load                # a `from mod import load` copy
    import sys
    sys.modules["fakepkg.mod"] = mod
    sys.modules["fakepkg.other"] = other
    try:
        t = Tracer("r")
        t.wrap_function(load, "tables", "fakepkg")
        with t.span("q", "plans") as q:
            assert other.load(1) == 2
        [child] = [s for s in t.spans if s.layer == "tables"]
        assert child.parent == q.sid

        class Engine:
            def finalize(self):
                return "done"

        e = Engine()
        t.wrap_method(e, "finalize", "replay")
        assert e.finalize() == "done"
        t.unpatch()
        assert mod.load is load and other.load is load
        assert "finalize" not in vars(e)
    finally:
        del sys.modules["fakepkg.mod"], sys.modules["fakepkg.other"]


def test_other_threads_hang_under_the_default_parent():
    t = Tracer("r")
    with t.span("query", "sources") as q:
        t.default_parent = q.sid

        def batch():
            with t.span("process_batch", "replay"):
                pass

        th = threading.Thread(target=batch)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    [b] = [s for s in t.spans if s.layer == "replay"]
    assert b.parent == q.sid
