"""Spans, layer-call timing and the percentile rule.

Spans are recorded only by the benchmark, around the calls it makes into the
program's modules; the program itself records nothing.  With tracing off a
``Tracer`` keeps no state and patches nothing, so the untraced run pays one
no-op context manager per unit of work.
"""

from __future__ import annotations

import contextlib
import functools
import math
import sys
import time
from typing import Any

import numpy as np


def quantile(values: list[float], q: float) -> float:
    """Harrell–Davis estimate of the ``q``-quantile (0..1): a Beta-weighted
    average of the order statistics around ``q``.  A dashboard refresh mixes
    panels of distinct costs, so the plain sample median jumps between
    neighbouring panels from run to run; this estimator moves smoothly.
    Weights are Beta(q(n+1), (1-q)(n+1)) probabilities of each rank's
    interval, integrated numerically (midpoint rule)."""
    xs = np.sort(np.asarray(values, dtype=np.float64))
    n = len(xs)
    if n == 0:
        raise ValueError("quantile of an empty sample")
    if n == 1:
        return float(xs[0])
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    steps = 64
    t = (np.arange(n * steps) + 0.5) / (n * steps)
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    w = pdf.reshape(n, steps).sum(axis=1)
    return float(w @ xs / w.sum())


TAIL_PERCENTILES = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def supported_tail(n: int) -> float | None:
    """The highest percentile with at least ten samples beyond it, or
    ``None`` when even the median has fewer than ten above it."""
    for q in TAIL_PERCENTILES:
        # samples above the q-quantile; the guard absorbs float error in q·n
        if n - math.ceil(q * n - 1e-9) >= 10:
            return q
    return None


def summarize(values: list[float]) -> dict[str, Any]:
    """Median, p90 and the highest percentile the sample supports, with the
    sample count, as the benchmark reports latencies."""
    tail = supported_tail(len(values))
    return {
        "n": len(values),
        "p50": quantile(values, 0.5),
        "p90": quantile(values, 0.9),
        "tail_q": tail,
        "tail": quantile(values, tail) if tail is not None else None,
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part its direct children cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            [(max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], []) if min(b, hi) > max(a, lo)]
        )
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Layer → summed self time (seconds) of its spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


class Tracer:
    """Collects spans (workload → unit → layer call) in memory.

    ``span`` opens a span under the innermost open one.  ``patch`` replaces
    a module-level function, in every already-imported module of
    ``package`` that binds it, by a wrapper that opens a span per call, so
    calls the program makes between its own modules are timed too.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs: Any):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    @contextlib.contextmanager
    def muted(self):
        """Record nothing inside the block (patched wrappers stay in place
        but open no spans)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def patch(self, stack: contextlib.ExitStack, package: str, module: Any,
              fname: str, layer: str) -> None:
        """Wrap ``module.fname`` for the life of ``stack`` (no-op untraced)."""
        if not self.enabled:
            return
        orig = getattr(module, fname)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(fname, layer):
                return orig(*args, **kwargs)

        bound = [
            m for name, m in list(sys.modules.items())
            if m is not None and (name == package or name.startswith(package + "."))
            and getattr(m, fname, None) is orig
        ]
        for m in bound:
            setattr(m, fname, wrapper)
        stack.callback(lambda: [setattr(m, fname, orig) for m in bound])
