"""Pure arithmetic of the benchmark: percentiles with their support rule,
file-to-batch matching for the open-loop workload, and the sums of the
status store's stage records.

Nothing here touches Spark, so ``test_perfbench.py`` checks it on synthetic
records.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Mapping, Sequence

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, q: float, beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples put at least ``beyond`` of them above the
    ``q`` percentile: the highest percentile worth reporting."""
    return n * (1.0 - q) >= beyond - 1e-9


def quartile_spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median (the steadiness
    measure ``BENCHMARK.json`` bounds are checked against)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def match_files(files: Sequence[tuple[float, int]],
                batches: Sequence[tuple[float, int]]) -> list[float | None]:
    """Latency of each landed file from its due time.

    ``files`` are ``(due, rows)`` in landing order; ``batches`` are
    ``(end, num_input_rows)`` in batch order. A file source consumes a
    prefix of the landed files in each batch, so file ``i`` is covered by
    the first batch whose cumulative input rows reach the cumulative rows
    of files ``0..i``. Its latency is that batch's end minus the file's due
    time; ``None`` means no batch has covered it yet (backlog).
    """
    out: list[float | None] = []
    b, covered = 0, 0
    need = 0
    for due, rows in files:
        need += rows
        while covered < need and b < len(batches):
            covered += batches[b][1]
            b += 1
        if covered < need:
            out.append(None)
        else:
            out.append(batches[b - 1][0] - due)
    return out


def stage_totals(jobs: int, stages: Iterable[Mapping]) -> dict[str, float]:
    """Sum the status store's stage records of one unit of work.

    ``stages`` are distinct stages (``tasks``, ``failed_tasks``, ``run_ms``,
    ``shuffle_read_bytes``, ``shuffle_write_bytes``,
    ``spill_bytes``). A stage that ran no task was skipped because its
    shuffle output was reused; it is not counted as a stage."""
    out = {"jobs": jobs, "stages": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for st in stages:
        if st["tasks"] + st["failed_tasks"] == 0:
            continue
        out["stages"] += 1
        out["tasks"] += st["tasks"] + st["failed_tasks"]
        out["failed_tasks"] += st["failed_tasks"]
        out["task_s"] += st["run_ms"] / 1000.0
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[k] += st[k]
    return out


def slot_util(task_s: float, wall_s: float, cores: int) -> float:
    """Share of the run's task slots that were busy: task seconds over
    wall seconds times cores."""
    return task_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0

