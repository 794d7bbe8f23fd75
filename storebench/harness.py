"""Op recorder and round loop shared by the three workloads.

A workload is a class with a ``SIZES`` table (``full``, ``warm`` and
``tiny`` round shapes), ``prepare_round()``, ``run_round(inputs, ops)``
and ``check_round(inputs, outcome)``. Every
round is the same fixed sequence of operations on a fresh stream or
table, so per-op costs do not depend on how many rounds fit into the
measured time. The loop runs whole rounds until ``seconds`` have passed.
"""

from __future__ import annotations

import gc
import statistics
import time
from collections import Counter
from contextlib import contextmanager

from probes import CpuProbe, cpu_totals, peak_rss_mib, steal_share, timing_summary

CPU_CLASSES = ("write", "read")

# The bounded end-to-end metrics (BENCHMARK.json). The wall-clock figures
# below are printed in every run's context but not bounded: on a small
# shared VM they follow the hypervisor's steal time, which amplified them
# up to 2x (see README, "Reference figures").
BOUNDED = ("setup_s", "write_cpu_us_per_event", "read_cpu_us_per_event",
           "stored_bytes_per_user_byte", "peak_rss_mib")
WALL_CLOCK = ("write_p50_ms", "read_p50_ms", "events_per_s")


class CheckFailed(Exception):
    """An output of the engine differs from the independently computed
    expectation."""


class OpHandle:
    __slots__ = ("events",)

    def __init__(self):
        self.events = 0


class Ops:
    """Records the wall time, CPU and event count of every timed op.

    ``kind`` names the op (its latency sample list); ``cls`` is
    ``write`` or ``read`` and decides which CPU and event totals the op
    adds to, or ``None`` for an op that only counts in wall time. A
    tracer, when given, is told where each op starts and ends.
    """

    def __init__(self, probe: CpuProbe, tracer=None):
        self.probe = probe
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.cpu = {c: Counter() for c in CPU_CLASSES}
        self.events = Counter()
        self.attempted = Counter()
        self.failed = Counter()
        self.wall = 0.0  # summed wall time of the rounds' timed sections

    @contextmanager
    def op(self, kind: str, cls: str):
        h = OpHandle()
        self.attempted[kind] += 1
        if self.tracer is not None:
            self.tracer.begin_op(kind, cls)
        c0 = self.probe.sample(python_last=True)
        t0 = time.perf_counter()
        ok = False
        try:
            yield h
            ok = True
        finally:
            t1 = time.perf_counter()
            c1 = self.probe.sample(python_last=False)
            if self.tracer is not None:
                self.tracer.end_op(t1 - t0)
            if not ok:
                self.failed[kind] += 1
        self.lat.setdefault(kind, []).append(t1 - t0)
        if cls is not None:
            for k in c1:
                self.cpu[cls][k] += c1[k] - c0[k]
            self.events[cls] += h.events


def warm_up(workload) -> None:
    """One reduced, untimed round of every op kind, checked like the
    others: first-use imports, thread pools, JIT and code generation and
    the first streaming query happen here, not in the timings."""
    saved = workload.size
    if saved is workload.SIZES["full"]:
        workload.size = workload.SIZES["warm"]
    try:
        inputs = workload.prepare_round()
        outcome = workload.run_round(inputs, Ops(CpuProbe(children=False)))
        workload.check_round(inputs, outcome)
    finally:
        workload.size = saved
    workload.stored_bytes = workload.user_bytes = 0


def timed_phase(workload, ops: Ops, seconds: float) -> dict:
    """Run whole rounds until ``seconds`` have elapsed (at least one).
    Returns the phase's bookkeeping; a failed check ends the phase and
    is reported in ``check_failed``."""
    prep, rounds, failed = [], 0, None
    stat0 = cpu_totals()
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        inputs = workload.prepare_round()
        prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        outcome = workload.run_round(inputs, ops)
        ops.wall += time.perf_counter() - t
        rounds += 1
        try:
            workload.check_round(inputs, outcome)
        except CheckFailed as e:
            failed = str(e)
            break
        # free this round's inputs and outputs before the next round is
        # generated, so peak memory does not depend on the round count
        del inputs, outcome
        gc.collect()
        if time.perf_counter() - start >= seconds:
            break
    return {
        "rounds": rounds,
        "check_failed": failed,
        "round_setup_s": statistics.median(prep),
        "steal_share": steal_share(stat0, cpu_totals()),
        "elapsed_s": time.perf_counter() - start,
    }


def end_to_end(workload, ops: Ops, one_time_setup_s: float, phase: dict) -> dict:
    """Every end-to-end figure of one timed phase, bounded or not."""
    written, read = ops.events["write"], ops.events["read"]
    return {
        "setup_s": (one_time_setup_s + phase["round_setup_s"], "s"),
        "write_p50_ms": (statistics.median(ops.lat["write"]) * 1000.0, "ms"),
        "read_p50_ms": (statistics.median(ops.lat["read"]) * 1000.0, "ms"),
        "events_per_s": (written / ops.wall, "1/s"),
        "write_cpu_us_per_event": (sum(ops.cpu["write"].values()) / written * 1e6, "us"),
        "read_cpu_us_per_event": (sum(ops.cpu["read"].values()) / read * 1e6, "us"),
        "stored_bytes_per_user_byte": (
            workload.stored_bytes / workload.user_bytes if workload.user_bytes else 0.0, "B/B"),
        "peak_rss_mib": (peak_rss_mib(), "MiB"),
    }


def timing_context(ops: Ops) -> dict:
    """Median and tail of every op kind, with sample counts."""
    return {kind: timing_summary(v) for kind, v in sorted(ops.lat.items())}
