"""Spans, self times, the percentile rule and failure counting.

Kept free of Spark so the arithmetic is unit-tested on its own
(``perfbench/tests``).
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Percentiles tried, highest first, by ``tail_percentile``.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: A reported percentile needs at least this many samples above it.
MIN_BEYOND = 10


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records nested spans in memory; ``dump`` writes them out at the end.

    A disabled tracer yields immediately and records nothing, so the
    untraced path pays one generator enter/exit per span.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._next = 0
        self._on_enter = None

    def enable(self, on_enter=None) -> None:
        """Start recording. ``on_enter`` (optional) is called with the span
        id and name when a span opens, and with the parent's (or
        ``(None, None)``) when it closes — the harness uses it to tag Spark
        jobs with the innermost open span."""
        self.enabled, self._on_enter = True, on_enter

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        if self._on_enter:
            self._on_enter(sid, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, self.run_id))
            if self._on_enter:
                self._on_enter(*(self._stack[-1] if self._stack else (None, None)))

    @contextmanager
    def paused(self):
        """Record nothing inside the block (an untraced operation of a
        traced run)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([s.__dict__ for s in sorted(self.spans, key=lambda s: s.span_id)], f)


@contextmanager
def patched(tracer: Tracer, module, names: dict[str, str], keep: dict | None = None):
    """Inside the block, every module-level function ``module.<name>`` in
    ``names`` runs inside a span named ``names[name]``; the originals are
    restored on exit. The program's entry points look these names up in
    their own module when they call them, so the benchmark calls the
    entry points unchanged and still gets a span per inner call. When
    ``keep`` is given, each wrapped call appends ``(args, kwargs, result)``
    to ``keep[span name]``."""
    saved = {n: getattr(module, n) for n in names}

    def wrap(fn, span_name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            if keep is not None:
                keep.setdefault(span_name, []).append((args, kwargs, out))
            return out
        return traced

    try:
        for n, span_name in names.items():
            setattr(module, n, wrap(saved[n], span_name))
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name, summed over its spans: each span's
    duration minus the part of its interval its children cover (clipped
    to the parent, overlaps counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.span_id, ())]
        own = (s.end - s.start) - _covered([k for k in kids if k[1] > k[0]])
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def durations(spans: list[Span], name: str) -> list[float]:
    return [s.end - s.start for s in spans if s.name == name]


def paired_overhead(samples: list[tuple[object, bool, float]]) -> tuple[float, float] | None:
    """Tracing overhead on identical work: ``samples`` are ``(key, traced,
    seconds)``; every key run both traced and untraced contributes its
    median traced and median untraced time. Returns ``(sum traced - sum
    untraced, sum traced / sum untraced - 1)``, or None when no key was
    run both ways."""
    by_key: dict = {}
    for key, traced, dt in samples:
        by_key.setdefault(key, ([], []))[0 if traced else 1].append(dt)
    pairs = [(statistics.median(t), statistics.median(u))
             for t, u in by_key.values() if t and u]
    if not pairs:
        return None
    traced, untraced = sum(t for t, _ in pairs), sum(u for _, u in pairs)
    return traced - untraced, traced / untraced - 1.0


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest of ``PERCENTILES`` with at least ``MIN_BEYOND`` samples
    strictly above its nearest-rank value, as ``(percentile, value)``;
    None when no percentile qualifies (fewer than 20 samples)."""
    xs = sorted(samples)
    n = len(xs)
    for p in PERCENTILES:
        rank = max(1, -(-int(p * n) // 100))  # nearest rank: ceil(p/100 * n)
        value = xs[rank - 1]
        if sum(1 for x in xs if x > value) >= MIN_BEYOND:
            return p, value
    return None


def summary(samples: list[float]) -> dict:
    """Median, the tail percentile and the sample count of ``samples``."""
    out = {"n": len(samples), "p50": statistics.median(samples) if samples else None}
    tail = tail_percentile(samples)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out


@dataclass
class Tally:
    """Attempted and failed operations; an output check is an operation,
    and a failed check counts as a failure."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def checks(self, results: list[tuple[str, bool, str]]) -> None:
        for name, ok, detail in results:
            self.op(ok, f"check {name}: {detail}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
