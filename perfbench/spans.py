"""Spark-free helpers of the benchmark: percentiles, the operation
ledger behind ``attempted``/``failed``, and the in-memory span recorder
of the traced run. Kept free of Spark so the tests run in milliseconds.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Percentiles a run may report beyond the median, highest first.
TAIL_PERCENTILES = (0.999, 0.99, 0.9)
# A percentile is reported only with at least this many samples beyond it.
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` in [0, 1] of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest of ``TAIL_PERCENTILES`` that leaves at least
    ``MIN_TAIL_SAMPLES`` of ``n`` samples beyond it, or None."""
    for p in TAIL_PERCENTILES:
        if n * (1.0 - p) >= MIN_TAIL_SAMPLES - 1e-9:
            return p
    return None


@dataclass
class Ledger:
    """Per-run operation accounting: an operation that raised and one
    whose output did not match its oracle both count as failed."""

    attempted: int = 0
    raised: int = 0
    mismatched: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, name: str, error: str | None = None, ok: bool = True) -> None:
        self.attempted += 1
        if error is not None:
            self.raised += 1
            self.errors.append(f"{name}: {error}")
        elif not ok:
            self.mismatched += 1
            self.errors.append(f"{name}: output differs from its oracle")

    @property
    def failed(self) -> int:
        return self.raised + self.mismatched

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = math.nan

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records one span per layer boundary; spans stay in memory until
    ``dump``. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op_id, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """span_id -> duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return {
            s.span_id: s.duration - covered(s, children.get(s.span_id, []))
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def covered(parent: Span, children: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to the
    parent's interval (children may overlap each other)."""
    ivs = sorted(
        (max(c.start, parent.start), min(c.end, parent.end)) for c in children
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
