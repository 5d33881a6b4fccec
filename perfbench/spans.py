"""Span tracing from outside the program, plus the timing arithmetic.

In a traced run the benchmark replaces module attributes of the layers'
public functions with wrappers that record one span per call: name,
start, end, parent span and the id of the benchmark op that caused it.
Calls made on ``ThreadPoolExecutor`` threads are linked to the span that
submitted them, so bucket reads on the replica's prefetch pool count
under the query that waited for them. Spans stay in memory; the
benchmark reduces them to per-layer numbers when it ends.

Only calls made while an op is active are recorded, so the benchmark's
own oracle (which shares the tokenizer) never shows up in a layer.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import contextvars
import functools
import importlib
import math
import time

_current: contextvars.ContextVar = contextvars.ContextVar(
    "perfbench_span", default=None
)


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "children")

    def __init__(self, name: str, parent: "Span | None", op):
        self.name = name
        self.parent = parent
        self.op = op if parent is None else parent.op
        self.start = time.perf_counter()
        self.end = None
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. ``op(name, op_id)`` opens a root span; wrapped
    functions open child spans only inside one."""

    def __init__(self):
        self.roots: list[Span] = []
        self._undo: list = []

    # -- recording -------------------------------------------------------

    def _open(self, name: str, op=None) -> "tuple[Span, object]":
        parent = _current.get()
        span = Span(name, parent, op)
        if parent is None:
            self.roots.append(span)
        else:
            parent.children.append(span)
        return span, _current.set(span)

    def _close(self, span: Span, token) -> None:
        span.end = time.perf_counter()
        _current.reset(token)

    @contextlib.contextmanager
    def op(self, name: str, op_id):
        span, token = self._open(name, op_id)
        try:
            yield span
        finally:
            self._close(span, token)

    # -- instrumentation -------------------------------------------------

    def wrap(self, target: str, name: str) -> None:
        """Replace ``module.path:attr`` (or ``module:Class.attr``) with a
        span-recording wrapper. Undone by :meth:`unwrap_all`."""
        mod_name, attr_path = target.split(":")
        owner = importlib.import_module(mod_name)
        *outer, attr = attr_path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        orig = owner.__dict__[attr]
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if _current.get() is None:
                return fn(*args, **kwargs)
            span, token = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span, token)

        setattr(owner, attr,
                staticmethod(wrapper) if isinstance(orig, staticmethod)
                else wrapper)
        self._undo.append((owner, attr, orig))

    def link_pool_threads(self) -> None:
        """Run every ``ThreadPoolExecutor`` task inside the submitting
        thread's context, so its spans hang under the caller's span."""
        orig = concurrent.futures.ThreadPoolExecutor.submit

        def submit(ex, fn, /, *args, **kwargs):
            ctx = contextvars.copy_context()
            return orig(ex, ctx.run, fn, *args, **kwargs)

        concurrent.futures.ThreadPoolExecutor.submit = submit
        self._undo.append(
            (concurrent.futures.ThreadPoolExecutor, "submit", orig)
        )

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# -- arithmetic ------------------------------------------------------------


def covered(intervals: "list[tuple[float, float]]", lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals
        if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span) -> float:
    """Span duration minus the part of it its children cover. Children
    on pool threads may overlap each other; their union is subtracted
    once."""
    return span.dur - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


def walk(spans: "list[Span]"):
    stack = list(spans)
    while stack:
        s = stack.pop()
        yield s
        stack.extend(s.children)


def self_times_by_name(roots: "list[Span]") -> "dict[str, float]":
    out: dict[str, float] = {}
    for s in walk(roots):
        out[s.name] = out.get(s.name, 0.0) + self_time(s)
    return out


def calls_by_name(roots: "list[Span]") -> "dict[str, int]":
    out: dict[str, int] = {}
    for s in walk(roots):
        out[s.name] = out.get(s.name, 0) + 1
    return out


def tail_percentile(n: int, want: float = 99.0, beyond: int = 10) -> float:
    """The highest percentile <= ``want`` that leaves at least
    ``beyond`` samples above it among ``n`` (0 when n <= beyond)."""
    if n <= beyond:
        return 0.0
    return min(want, 100.0 * (n - beyond) / n)


def percentile(values: "list[float]", p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def latency_summary(values_s: "list[float]", want: float = 99.0,
                    beyond: int = 10) -> dict:
    """Median and tail in ms, with the sample counts behind them. The
    tail is the ``want`` percentile only when at least ``beyond``
    samples lie above it; otherwise the highest percentile that does."""
    n = len(values_s)
    p_tail = tail_percentile(n, want, beyond)
    tail = percentile(values_s, p_tail) if p_tail > 0 else max(values_s)
    return {
        "p50_ms": 1000.0 * percentile(values_s, 50.0),
        "tail_pct": p_tail,
        "tail_ms": 1000.0 * tail,
        "n": n,
        "n_beyond_tail": sum(1 for v in values_s if v > tail),
    }
