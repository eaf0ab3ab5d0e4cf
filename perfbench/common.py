"""Run context shared by the three workloads.

A :class:`Bench` owns one benchmark run: the Spark session, the scratch
directory every input, lake and checkpoint lives in, the tracer, and
the tally of attempted and failed units.  A unit is one timed piece of work -- a replay pass, a curation
pass, a live arrival, a lookup -- and it fails if it raises or if its
correctness check fails.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import traceback

import numpy as np


class CheckFailed(AssertionError):
    """A unit's output disagreed with its oracle."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def median(xs) -> float:
    return float(statistics.median(xs))


class Bench:
    def __init__(self, workdir: str, seed: int, seconds: float,
                 scale: float, tracer):
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.keep: dict = {}
        self._dirs = 0

    def rng(self, *stream: int) -> np.random.Generator:
        """Independent generator per (seed, stream...): unit k of a run
        gets the same input on every run with this seed."""
        return np.random.default_rng([self.seed, *stream])

    def fresh_dir(self, kind: str) -> str:
        """A path no earlier unit has used, so no session cache keyed on
        the input path can serve it."""
        self._dirs += 1
        d = os.path.join(self.workdir, f"{kind}{self._dirs:04d}")
        os.makedirs(d)
        return d

    def size(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def unit(self, fn, *args):
        """Run one unit; an exception or failed check counts it failed.
        Returns ``fn``'s result, or ``None`` when it failed."""
        return self.units(1, fn, *args)

    def units(self, n: int, fn, *args):
        """Run ``fn`` as ``n`` units that stand or fall together, such as
        the micro-batches of one drain."""
        self.attempted += n
        try:
            return fn(*args)
        except Exception:  # a failed unit is reported, not fatal
            self.failed += n
            traceback.print_exc(file=sys.stderr)
            return None

    def settle(self) -> None:
        """Between units, outside any timing: drop Python handles to
        finished plans and cached relations, the same way every time."""
        self.spark.catalog.clearCache()
        gc.collect()
