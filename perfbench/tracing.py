"""Spans, percentiles and the ledger arithmetic of the benchmark.

Spans are recorded by the benchmark's own code around its calls into the
program's public functions (nothing inside the program is instrumented).
They are kept in memory and written as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: int  # spans of one job share this id
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead = 0.0  # seconds spent recording spans
        self._stack: list[Span] = []
        self._next_trace = 0

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if new_trace or parent is None:
            self._next_trace += 1
            trace = self._next_trace
        else:
            trace = parent.trace
        s = Span(len(self.spans), name, time.perf_counter(), math.nan,
                 parent.id if parent else None, trace, dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self.overhead += time.perf_counter() - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.overhead += time.perf_counter() - s.end

    def total(self, name: str) -> float:
        """Summed duration of every span with this name."""
        return sum(s.seconds for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "trace": s.trace, "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(self_time(s, self.spans), 6),
                    **s.attrs}) + "\n")


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    kids = sorted((max(c.start, span.start), min(c.end, span.end))
                  for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
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
    return span.seconds - covered


def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no values")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile, at or above the median, with at least
    ``beyond`` samples above it -> (value, percentile). With fewer than
    ``2 * beyond`` samples no such percentile exists and the maximum is
    returned, as percentile 100."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("tail of no values")
    if n < 2 * beyond:
        return v[-1], 100.0
    k = n - beyond  # 1-based rank: exactly `beyond` samples lie above it
    return v[k - 1], 100.0 * k / n


@dataclass(frozen=True)
class Ledger:
    """Where one job's wall time went: scan + Arrow floor, the kernel chain
    (its single-threaded time spread over the cores), the write, and what
    none of these explains."""
    job_s: float
    floor_s: float
    kernels_s: float
    write_s: float

    @property
    def residual_s(self) -> float:
        return self.job_s - self.floor_s - self.kernels_s - self.write_s

    @property
    def residual_share(self) -> float:
        return self.residual_s / self.job_s

    def lines(self) -> dict[str, float]:
        return {"job_s": self.job_s, "floor_s": self.floor_s,
                "kernels_s": self.kernels_s, "write_s": self.write_s,
                "residual_s": self.residual_s,
                "residual_share": self.residual_share}


def ledger(job_s: float, job_docs: int, floor_s: float, floor_docs: int,
           kernel_single_s: float, kernel_docs: int, cpus: int,
           write_s: float, write_docs: int) -> Ledger:
    """Scale each layer's measurement to the job's document count (pro
    rata) and the kernel time to ``cpus`` parallel cores."""
    return Ledger(
        job_s=job_s,
        floor_s=floor_s * job_docs / floor_docs,
        kernels_s=kernel_single_s * job_docs / kernel_docs / cpus,
        write_s=write_s * job_docs / write_docs if write_docs else 0.0,
    )
