"""Operation outcomes and timing samples of one benchmark run."""

from __future__ import annotations

import sys
import time
import traceback

from spans import Tracer


class Run:
    """Accumulates operation outcomes and samples for one benchmark run."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def op(self, name: str, fn, check) -> tuple[object, float]:
        """Run one operation, then its output check outside the timed call;
        either failing counts. Returns (result or None, call seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{name}"):
                out = fn()
            dur = time.perf_counter() - t0
            errs = check(out)
        except Exception:  # a failed operation is a measured outcome
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, time.perf_counter() - t0
        if errs:
            print(f"check failed [{name}]: {'; '.join(errs)}", file=sys.stderr)
            self.failed += 1
        return out, dur
