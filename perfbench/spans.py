"""Spans around the benchmark's calls into each layer.

A span records its name, start, end (epoch seconds), the span that was
open when it started (its parent) and the operation it belongs to.
Spans are kept in memory and written out once, when the run ends.

Calls the benchmark makes itself are wrapped with ``Tracer.span``. Calls
the CLI makes inside ``__main__.main`` are reached by ``Tracer.patch``,
which swaps a module attribute for a recording wrapper for the duration
of one operation; ``main`` resolves its layer functions at call time, so
it picks the wrappers up without any change to the program.

A layer's self time is its span's duration minus the time covered by
its child spans.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patch(self, targets: list[tuple[str, str, str]]):
        """Wrap ``module.attr`` as span ``name`` for each target, and
        restore the originals on exit."""
        saved = []
        try:
            for module, attr, name in targets:
                mod = importlib.import_module(module)
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(name, getattr(mod, attr)))
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time (seconds) per span name."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
