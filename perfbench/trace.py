"""In-memory spans around calls into the program's layer functions.

:func:`wrap` replaces a module attribute with a timing wrapper, so every
caller that looks the function up through its module at call time (the
program's own style: ``layout.write_partitioned(...)``, module globals,
imports made inside a function body) is traced without touching the
program. Spans stay in memory until the run ends; :func:`self_times`
folds them into per-layer self time (span minus the part its children
cover).
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (same clock as Spark's progress timestamps)
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call to ``module.attr`` as a span called ``name``."""
        original = getattr(module, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(
                    Span(name, time.time(), float("nan"), stack[-1] if stack else None)
                )
            stack.append(idx)
            try:
                return original(*args, **kwargs)
            finally:
                stack.pop()
                tracer.spans[idx].end = time.time()

        setattr(module, attr, traced)
        self._undo.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._undo):
            setattr(module, attr, original)
        self._undo.clear()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(i, []))
        for i, s in enumerate(spans)
    ]


def totals_by_name(
    spans: list[Span], window: tuple[float, float] | None = None
) -> dict[str, tuple[float, float, int]]:
    """name -> (total span seconds, total self seconds, calls), for spans
    starting inside ``window`` (all spans when None)."""
    selfs = self_times(spans)
    out: dict[str, tuple[float, float, int]] = {}
    for s, own in zip(spans, selfs):
        if window is not None and not (window[0] <= s.start <= window[1]):
            continue
        tot, slf, n = out.get(s.name, (0.0, 0.0, 0))
        out[s.name] = (tot + (s.end - s.start), slf + own, n + 1)
    return out


def top_level_seconds(
    spans: list[Span], window: tuple[float, float]
) -> float:
    """Seconds covered by root spans (no parent) starting in ``window``."""
    return _covered(
        [
            (s.start, s.end)
            for s in spans
            if s.parent is None and window[0] <= s.start <= window[1]
        ]
    )
