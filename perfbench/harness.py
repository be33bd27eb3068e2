"""Shared pieces of the workloads: run context, timed operations,
percentiles, memory readings."""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: Path  # scratch space of this run, inside the checkout
    cache: Path  # oracle digests, kept across runs
    rec: object = None  # trace.Recorder in traced runs
    jobs: object = None  # trace.JobGroups in traced runs
    plant_error: bool = False


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool
    traced: bool
    error: str = ""


@dataclass
class Ops:
    """Every timed operation of a run, in order."""

    records: list = field(default_factory=list)
    seen: Counter = field(default_factory=Counter)  # operations per kind

    def run(self, ctx: Ctx, kind: str, fn, traced: bool | None = None):
        """Time ``fn()``. In a traced run every second operation of each
        kind is traced unless ``traced`` says otherwise, so traced and
        untraced timings of every kind interleave; warm-up passes
        ``traced=False``."""
        op_id = len(self.records)
        if traced is None:
            traced = ctx.rec is not None and self.seen[kind] % 2 == 1
        self.seen[kind] += 1
        if ctx.jobs is not None:
            ctx.jobs.start(traced)
        out, err = None, ""
        t0 = time.perf_counter()
        try:
            if traced:
                ctx.rec.enabled = True
                ctx.rec.request = op_id
                with ctx.rec.span("op", kind=kind):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # a failed operation counts against error_rate
            err = f"{type(e).__name__}: {e}"
        finally:
            if traced:
                ctx.rec.enabled = False
        ms = (time.perf_counter() - t0) * 1e3
        self.records.append(Op(kind, ms, not err, traced, err))
        return out, self.records[-1]


def next_round_fits(deadline: float, rounds: list[float]) -> bool:
    """Whether to run one more whole round (a cycle of calls, a pass over
    the entries): yes if its midpoint, at the median round time so far,
    falls before ``deadline``. The first round always runs. A run thus
    measures for its ``--seconds`` give or take half a round, however
    slow the machine, and every round holds the same calls."""
    return not rounds or time.perf_counter() + median(rounds) / 2 <= deadline


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def dir_stats(path: Path) -> tuple[int, int]:
    """(data files, bytes) under a store directory."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
