"""Spans recorded from outside the package: each layer function is wrapped
where its caller looks it up (a module attribute), so nothing inside the
package changes. Spans stay in memory until the run ends, then are
written out with ``dump``."""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    detail: dict | None = None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, detail: dict | None = None):
        sp = Span(name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.op, detail)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def wrap(self, module: object, attr: str, name: str, on_call=None) -> None:
        """Replace ``module.attr`` with a spanning wrapper. ``on_call(span,
        args, kwargs, result)`` may attach counts to the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, kwargs, result)
                return result

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- folding ----------------------------------------------------------

    def self_time(self, idx: int) -> float:
        """Duration minus the union of the intervals its children cover."""
        sp = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + self.self_time(i)
        return out

    def dump(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op, **(s.detail or {})}
                for s in self.spans]
