"""In-memory spans around calls into the package's layers.

``Tracer.install`` wraps every public function of the layer modules and
rebinds each reference the package holds to it (``from .x import f``
copies included), so a call that crosses into a layer opens a span.  A
call made from inside the same layer opens none: spans mark layer
boundaries.  Each span records its name, layer, start and end (wall
clock, comparable with Spark's event-log timestamps), parent span and
gate identifier.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time

PACKAGE = "pandasy_spark"


def layer_of(module: str) -> str | None:
    """Layer name for a package module, or None for modules not traced."""
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    head = parts[1]
    if head == "extended":
        return f"extended.{parts[2]}" if len(parts) > 2 else None
    if head in ("session", "sources", "functions", "operators",
                "concurrency", "streaming", "convert"):
        return head
    return None


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "gate", "thread")

    def __init__(self, name, layer, start, parent, gate, thread):
        self.name, self.layer, self.start = name, layer, start
        self.end = start
        self.parent, self.gate, self.thread = parent, gate, thread


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.gate: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> int:
        stack = self._stack()
        # a span opened on a helper thread (a driver thread pool) hangs
        # under whatever the driver thread is inside at that moment
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        span = Span(name, layer, time.time(), parent, self.gate, threading.get_ident())
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    def current_layer(self) -> str | None:
        stack = self._stack()
        return self.spans[stack[-1]].layer if stack else None

    def _wrap(self, fn, layer: str):
        tracer = self
        name = f"{layer}:{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.current_layer() == layer:
                return fn(*args, **kwargs)
            idx = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return traced

    def install(self) -> None:
        """Import every package module, then wrap the public functions of
        the layer modules.  Importing all of them first means a module a
        gate imports lazily is wrapped too."""
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(info.name)
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]
        wrapped: dict[int, object] = {}
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for attr, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not attr.startswith("_")
                        and obj.__module__ == mod.__name__
                        and not hasattr(obj, "evalType")):
                    wrapped[id(obj)] = self._wrap(obj, layer)
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped and inspect.isfunction(obj):
                    setattr(mod, attr, wrapped[id(obj)])

    def dump(self, path: str) -> None:
        rows = [
            {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "gate": s.gate, "thread": s.thread}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(max(0.0, (s.end - s.start) - covered))
    return out
