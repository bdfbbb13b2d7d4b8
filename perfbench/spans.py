"""In-memory spans around calls into the program's public functions.

The traced run replaces module attributes with timing wrappers in its
own process only (``Tracer.wrap``) and restores them afterwards
(``Tracer.unwrap_all``); nothing in the program is edited. Spans keep
name, start, end and parent and are written as one JSON file at exit.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self, clock=time.time):
        self.spans: list[Span] = []
        self._clock = clock
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        """Context manager recording one span, parented to the caller's
        innermost open span on this thread."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                stack = tracer._stack()
                with tracer._lock:
                    self.sid = len(tracer.spans)
                    tracer.spans.append(Span(self.sid, name, tracer._clock(), 0.0,
                                             stack[-1] if stack else None))
                stack.append(self.sid)
                return self

            def __exit__(self, *exc):
                tracer._stack().pop()
                tracer.spans[self.sid].end = tracer._clock()
                return False

        return _Ctx()

    def replace(self, module: str, attr: str, make) -> None:
        """Set ``module.attr`` to ``make(current)`` until ``unwrap_all``."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        self._saved.append((mod, attr, fn))
        setattr(mod, attr, functools.wraps(fn)(make(fn)))

    def wrap(self, module: str, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper recording span ``name``."""

        def make(fn):
            def traced(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)
            return traced

        self.replace(module, attr, make)

    def unwrap_all(self) -> None:
        while self._saved:
            mod, attr, fn = self._saved.pop()
            setattr(mod, attr, fn)

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of its interval that child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == span.id and c.end)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span.start), min(e, span.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
