"""In-memory spans and host counters for the benchmark.

A span is a name, a start and an end, kept in memory. Spark is lazy, so
a span only means something around an action: a prefix cut forced by a
cheap consumer, or a module function that runs a job itself.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        """Duration of every closed span with this name."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def wrap(self, name: str, fn):
        """fn, with each call recorded as a span."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


class NullTracer(Tracer):
    """Tracing off: spans cost one context switch and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield None


_TICK = os.sysconf("SC_CLK_TCK")


def host_cpu_seconds() -> dict[str, float]:
    """Machine-wide CPU seconds from /proc/stat: busy (user, nice,
    system, irq, softirq) and guest steal."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return {"busy_s": (user + nice + system + irq + softirq) / _TICK,
            "steal_s": steal / _TICK}


def counters_delta(before: dict, after: dict) -> dict[str, float]:
    return {k: round(after[k] - before[k], 2) for k in before}
