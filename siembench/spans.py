"""Spans, counters and machine-noise gauges for the benchmark.

Spans are recorded in memory around calls the benchmark makes into each
layer of ``dagger_spark`` (nothing inside the package is instrumented) and
written out once, at the end of the run, with their self times.  With
tracing off every ``span`` is a no-op, so the end-to-end run pays nothing.
"""

from __future__ import annotations

import json
import os
import resource
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list = []      # [name, start, end, parent index]
        self.values: dict = {}     # per-layer metrics (counts, ratios, times)
        self._stack: list = []
        self.overhead_s = 0.0      # time spent inside the recorder itself

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, t_in, t_in, parent])
        self._stack.append(idx)
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            self.spans[idx][1] = start
            self.spans[idx][2] = end
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    def set(self, name: str, value) -> None:
        if self.enabled:
            self.values[name] = value

    def total(self, name: str) -> float:
        """Summed duration (s) of every span called ``name``."""
        return sum(e - s for n, s, e, _p in self.spans if n == name)

    def self_times(self) -> dict:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict = {}
        for i, (name, s, e, _p) in enumerate(self.spans):
            out[name] = out.get(name, 0.0) + (e - s) - child[i]
        return out

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        origin = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {"name": n, "start": s - origin, "end": e - origin,
                         "parent": p, "run_id": self.run_id}
                        for n, s, e, p in self.spans
                    ],
                    "self_time_s": self.self_times(),
                    "metrics": self.values,
                },
                fh,
                indent=1,
            )


def calibrate(spark, rounds: int = 2) -> float:
    """A fixed CPU job timed warm: one untimed run absorbs JIT compilation,
    then the fastest of ``rounds`` timed runs is the machine gauge."""
    job = spark.range(200_000_000).selectExpr("sum(hash(id)) AS c")
    job.collect()
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        job.collect()
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks() -> tuple:
    """``(steal, total)`` ticks of every CPU since boot, from /proc/stat:
    steal is time the hypervisor ran another guest on this machine's CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on Linux
    jvm = _vm_hwm_kb(jvm_pid) if jvm_pid else 0
    return (own + jvm) / 1024.0


def loadavg() -> float:
    return os.getloadavg()[0]
