"""Span tracing for the traced (``--trace 1``) run.

Public functions of each engine layer module are wrapped in place, on
the module object and wherever a caller bound them at import, so a
call records a span (name, start, end, parent, run id). A span's self
time is its duration minus the durations of its direct children.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children_s: float = field(default=0.0, repr=False)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, layer, self.clock(), parent=parent)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        popped = self._stack.pop()
        assert popped is span, "spans must close in LIFO order"
        if self._stack:
            self._stack[-1].children_s += span.dur

    def wrap(self, fn, name: str, layer: str):
        if getattr(fn, "__perfbench_traced__", False):
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        traced.__perfbench_traced__ = True
        return traced

    def instrument_module(self, module, layer: str, also=()) -> int:
        """Wrap every public function defined in ``module``. ``also``
        lists other modules that bound some of them by name at import;
        those bindings are replaced too. Returns the number wrapped."""
        n = 0
        for attr, fn in list(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != module.__name__:
                continue
            traced = self.wrap(fn, f"{layer}.{attr}", layer)
            setattr(module, attr, traced)
            for other in also:
                if getattr(other, attr, None) is fn:
                    setattr(other, attr, traced)
            n += 1
        return n

    def layer_totals(self, first: int = 0) -> dict[str, tuple[int, float]]:
        """layer -> (calls, self seconds) over the spans opened since
        span ``first``."""
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans[first:]:
            calls, self_s = out.get(s.layer, (0, 0.0))
            out[s.layer] = (calls + 1, self_s + s.self_s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                row = asdict(s)
                row.pop("children_s")
                row["run_id"] = self.run_id
                fh.write(json.dumps(row) + "\n")
