"""In-memory spans and counters around the calls the benchmark makes into
each layer of the program.

A span is (name, layer, start, end, parent, run id). Spans are opened by
the benchmark's own code or by wrappers it installs on the program's
module functions for the length of a traced unit; nothing inside the
program is changed. Executor-side sink calls are added afterwards from the
sink journals (``add``). ``self_times`` gives each layer's self time: the
span's duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        #: parent for spans opened on threads with no open span of their
        #: own (py4j callback threads running foreachBatch)
        self.default_parent: int | None = None
        self._patches: list[tuple[object, str, object, bool]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None) -> Span:
        with self._lock:
            span = Span(len(self.spans), name, layer, start, end, parent,
                        self.run_id)
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else self.default_parent
        span = self.add(name, layer, time.time(), float("nan"), parent)
        stack.append(span.sid)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.time()

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    # -- wrappers on the program's functions --------------------------------
    def wrap_function(self, func, layer: str, package: str) -> None:
        """Replace ``func`` by a spanning wrapper under every name bound to
        it in the ``package`` modules (``from x import f`` copies count)."""
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(func.__qualname__, layer):
                return func(*args, **kwargs)

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, value in list(vars(mod).items()):
                if value is func:
                    self._patch(mod, attr, wrapper)

    def wrap_method(self, obj, attr: str, layer: str) -> None:
        func = getattr(obj, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(f"{type(obj).__name__}.{attr}", layer):
                return func(*args, **kwargs)

        self._patch(obj, attr, wrapper)

    def count_calls(self, cls, attr: str, key: str) -> None:
        """Count calls of ``cls.attr`` (e.g. py4j's send_command) under
        ``key`` while installed."""
        func = getattr(cls, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            tracer.count(key)
            return func(*args, **kwargs)

        self._patch(cls, attr, wrapper)

    def _patch(self, owner, attr: str, value) -> None:
        had = attr in vars(owner) if hasattr(owner, "__dict__") else True
        self._patches.append((owner, attr, getattr(owner, attr), had))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, old, had = self._patches.pop()
            if had:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)

    # -- reduction -----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per layer over all closed spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.end != s.end:          # still open
                continue
            covered = _covered(s.start, s.end,
                               [(c.start, c.end) for c in
                                children.get(s.sid, []) if c.end == c.end])
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(lo, a), min(hi, b)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
