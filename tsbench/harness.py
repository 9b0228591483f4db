"""The closed-loop op runner shared by the workloads.

One client thread runs a fixed rotation of ops, round after round: a
fixed number of untimed warm-up rounds, then the timed rounds. Each op
is timed alone, on the wall clock and in CPU time; the exact counters
(:mod:`probes`) are read before and after it, outside its timed span,
and kept next to its times.
"""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass, field

from probes import Probe, delta

class CheckFailed(Exception):
    """An op answered, but not with the expected answer."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


@dataclass
class Op:
    kind: str
    send: object  # () -> answer; the timed part
    verify: object  # (answer) -> dict of per-op facts; raises CheckFailed
    prepare: object = None  # () -> None; builds the request, untimed


@dataclass
class Record:
    kind: str
    round: int
    ms: float
    ok: bool
    counts: dict
    extra: dict = field(default_factory=dict)


class Runner:
    def __init__(self, spark, store_root, tracer=None, root_span="request"):
        self.probe = Probe(spark, store_root)
        self.tracer = tracer
        self.root_span = root_span
        self.records: list[Record] = []
        self.warmup: list[Record] = []
        self.errors: list[str] = []
        self.final_check_failed = False

    def run_op(self, op: Op, rnd: int, timed: bool) -> None:
        op_id = len(self.records) + len(self.warmup)
        if op.prepare:
            op.prepare()
        before = self.probe.sample()
        cpu0 = self.probe.cpu()
        answer, exc = None, None
        t0 = time.perf_counter()
        try:
            if self.tracer:
                with self.tracer.op(op_id, self.root_span):
                    answer = op.send()
            else:
                answer = op.send()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            exc = e
        ms = (time.perf_counter() - t0) * 1000
        cpu1 = self.probe.cpu()
        counts = delta(before, self.probe.sample(), cpu0, cpu1, self.probe)
        extra = {}
        if exc is None:
            try:
                extra = op.verify(answer) or {}
            except Exception as e:  # noqa: BLE001
                exc = e
        if exc is not None:
            self.errors.append(f"{op.kind}: {type(exc).__name__}: {exc}")
            if not isinstance(exc, CheckFailed):
                self.errors.append("".join(traceback.format_exception(exc, limit=4)))
        rec = Record(op.kind, rnd, ms, exc is None, counts, {"op_id": op_id, **extra})
        (self.records if timed else self.warmup).append(rec)

    def run_rounds(self, rotation, n_rounds: int, timed: bool, first_round: int = 0):
        for r in range(first_round, first_round + n_rounds):
            for op in rotation():
                self.run_op(op, r, timed)


# ------------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    """The 90th percentile, only when at least ten samples lie beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return statistics.geometric_mean(xs) if xs else float("nan")
