"""Pure helpers of the benchmark: percentiles with their sample-count
rule, span self time, cache keys and host counters.

Nothing here starts Spark, so the helper tests run in a plain Python
process.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from dataclasses import dataclass


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th
    percentile's rank."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def highest_supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile (whole number) that leaves at least
    ``min_beyond`` samples beyond it, or None when ``n`` is too small
    for even the median to qualify."""
    for q in range(99, 49, -1):
        if samples_beyond(n, q) >= min_beyond:
            return float(q)
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    sid: int

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.sid]
    return span.duration - covered(kids, span.start, span.end)


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing, so the
    untraced path pays one attribute test per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._started = 0

    def span(self, name: str, op: str = ""):
        return _SpanCtx(self, name, op)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op, "self_s": self_time(s, self.spans)}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: str):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        if self.tracer.enabled:
            self.start = time.monotonic()
            self.sid = self.tracer._started
            self.tracer._started += 1
            self.parent = self.tracer._stack[-1] if self.tracer._stack else None
            self.tracer._stack.append(self.sid)
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            end = time.monotonic()
            self.elapsed = end - self.start
            self.tracer._stack.pop()
            self.tracer.spans.append(
                Span(self.name, self.start, end, self.parent, self.op, self.sid)
            )
        return False


def file_digest(paths: list[str], *extra: object) -> str:
    """Content hash of source files plus parameters: the cache key of
    generated inputs and oracle results."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    h.update(repr(extra).encode())
    return h.hexdigest()[:16]


def cpu_times() -> tuple[float, float, float]:
    """Machine-wide (busy, iowait, steal) CPU seconds from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, iowait, irq, softirq = vals[:7]
    steal = vals[7] if len(vals) > 7 else 0
    return (user + nice + system + irq + softirq) / hz, iowait / hz, steal / hz


class CpuMeter:
    """Busy/iowait CPU seconds spent between ``start`` and ``stop``."""

    def __enter__(self):
        self.t0 = time.monotonic()
        self.c0 = cpu_times()
        return self

    def __exit__(self, *exc):
        c1 = cpu_times()
        self.wall = time.monotonic() - self.t0
        self.busy = c1[0] - self.c0[0]
        self.iowait = c1[1] - self.c0[1]
        return False


def calibration_ms() -> float:
    """Fixed single-thread CPU probe (sha256 over 16 MiB of constant
    bytes).  Its time moves with the host, not with the code."""
    block = b"\xa5" * (1 << 20)
    t0 = time.monotonic()
    h = hashlib.sha256()
    for _ in range(16):
        h.update(block)
    h.digest()
    return (time.monotonic() - t0) * 1000.0


def peak_rss_mb(pid: int) -> float:
    """VmHWM of a process in MiB (0 when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
