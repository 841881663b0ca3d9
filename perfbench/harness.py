"""What every workload shares: the run context it receives and the result
it hands back to ``run.py``."""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory inside the checkout, removed after the run
    cores: int
    setup: dict[str, float] = field(default_factory=dict)  # phase -> seconds

    @contextmanager
    def timed_setup(self, phase: str):
        """Add the wall time of the ``with`` block to set-up phase ``phase``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[phase] = self.setup.get(phase, 0.0) + time.perf_counter() - t0


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    unit_s: float = 0.0  # seconds per unit of work, from medians (see BASELINE.md)
    errors: list[str] = field(default_factory=list)  # one line per failed unit
    detail: dict = field(default_factory=dict)  # workload-named metrics
    layers: dict[str, float] = field(default_factory=dict)  # traced run only

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def force(df) -> None:
    """Run a DataFrame to completion without collecting it (``bench.py``'s
    noop write)."""
    df.write.mode("overwrite").format("noop").save()
