"""Span recorder for the benchmark's traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark replaces public module attributes of the program with timing
wrappers before the stream starts. The program resolves the wrapped names
at call time (``apply_stream`` imports ``append_frontier`` and the
manifest functions inside its batch function, and ``apply.py`` calls its
own module globals), so calls made inside a micro-batch are caught too.

A span records name, start, end, parent span and a context id (micro-batch,
lookup or verify pass). Spans stay in memory and are written out once,
when the run ends.

Functions that return a lazy DataFrame (``apply_batch``, ``latest_per_key``,
``read_buckets``, ``fingerprint_diff``...) only build a plan: their span
times plan construction, and the plan's execution lands in whichever
caller's span runs the action -- usually the parent's self time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    ctx: str


class Tracer:
    """Collects spans; ``enabled=False`` makes ``wrap`` a no-op so the
    untraced run executes the program's own functions unchanged."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        #: context of threads that set none (the stream's batch callbacks
        #: run on a py4j thread; the closed-loop writer keeps one batch
        #: outstanding, so the current batch is unambiguous)
        self.default_ctx = "setup"
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_ctx(self, ctx: str | None) -> None:
        """Context id for spans opened on the calling thread."""
        self._local.ctx = ctx

    def _ctx(self) -> str:
        return getattr(self._local, "ctx", None) or self.default_ctx

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        ctx = self._ctx()
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent, ctx))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (undone by
        ``unwrap_all``)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis --------------------------------------------------------

    def durations_ms(self, name: str, ctx_prefix: str | None = None) -> list[float]:
        return [
            (s.end - s.start) * 1000.0
            for s in self.spans
            if s.name == name and (ctx_prefix is None or s.ctx.startswith(ctx_prefix))
        ]

    def self_time_ms(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.id] = (s.end - s.start - covered) * 1000.0
        return out

    def root_ms_by_ctx(self) -> dict[str, float]:
        """Per context: summed duration of spans that have no parent."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.parent is None:
                out[s.ctx] = out.get(s.ctx, 0.0) + (s.end - s.start) * 1000.0
        return out

    def dump(self, path: str) -> None:
        """One JSON line per span, times in ms from the first span."""
        t0 = min((s.start for s in self.spans), default=0.0)
        self_ms = self.self_time_ms()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "start_ms": round((s.start - t0) * 1000, 3),
                            "end_ms": round((s.end - t0) * 1000, 3),
                            "self_ms": round(self_ms[s.id], 3),
                            "parent": s.parent,
                            "ctx": s.ctx,
                        }
                    )
                    + "\n"
                )
