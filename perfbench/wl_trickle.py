"""``stream_trickle``: open loop on a fixed schedule. A generator subprocess
(one process, one thread: ``gen.py trickle``) lands one file of
``LINES_PER_FILE`` documents lines every ``PERIOD_S`` seconds (write to a
staging dir, then rename), 2,000 lines/s in all, a few per cent of the
wordCount drain capacity. The consumer is ``streaming.start_app(spark,
"wordCount", dir, out, period="0 seconds")``: the reference's ``start``
path, complete mode, ``VersionedSink``.

A file's latency is the end of the first batch whose cumulative
``numInputRows`` covers it, minus the file's *due* time, so a stall also
delays every file queued behind it. Files due before ``WARMUP_S`` are
set-up. Batches are tiny, so latency is set by per-batch coordination
(listing, planning, WAL/offset commits, complete-mode re-emit and the
versioned parquet write): the regime Drizzle targets.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter
from statistics import median

import gen
import probes
from harness import Ctx, Result
from stats import match_files, percentile, slot_util, supported

PERIOD_S = 0.04
LINES_PER_FILE = 80
WARM_FILES = 6  # landed one at a time, each drained before the next
WARMUP_S = 2.0
LEAD_S = 1.0  # between starting the query and the first due file
DRAIN_TIMEOUT_S = 60.0
RESULT = "wordcount_result"


def _run_generator(spec_path: str, timeout: float) -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.Popen([sys.executable, os.path.join(here, "gen.py"), "trickle", spec_path])
    try:
        if proc.wait(timeout=timeout) != 0:
            raise RuntimeError(f"trickle generator exited {proc.returncode}")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def _backlog_growth(files, lat, ends, lo: float, hi: float) -> float:
    """Mean backlog (files landed but not yet consumed, sampled at each
    batch end in ``[lo, hi)``) over the window's last third minus its
    first third."""
    consumed_at = [f["due"] + x for f, x in zip(files, lat) if x is not None]
    samples = [
        sum(1 for f in files if f["landed"] <= t) - sum(1 for c in consumed_at if c <= t)
        for t in ends if lo <= t < hi
    ]
    if len(samples) < 3:
        return 0.0
    k = len(samples) // 3
    return sum(samples[-k:]) / k - sum(samples[:k]) / k


def _consumed(q) -> int:
    return sum(p.numInputRows for p in q.recentProgress)


def run(ctx: Ctx) -> Result:
    from crane_stream_processing_spark import streaming

    spark = ctx.spark
    res = Result()
    n_files = int(round((WARMUP_S + ctx.seconds) / PERIOD_S))
    src, stage, out = (os.path.join(ctx.work, d) for d in ("in", "stage", "out"))
    for d in (src, stage, out):
        os.makedirs(d)
    with ctx.timed_setup("gen"):
        file_lines = gen.trickle_lines(ctx.seed, WARM_FILES + n_files, LINES_PER_FILE)
    warm_lines, file_lines = file_lines[:WARM_FILES], file_lines[WARM_FILES:]
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(WARM_FILES + n_files + 100))

    t0 = time.perf_counter()
    q = streaming.start_app(spark, "wordCount", src, out, period="0 seconds")
    build_s = time.perf_counter() - t0
    try:
        with ctx.timed_setup("warmup"):
            # Closed-loop warm-up: the first batches pay compile and
            # first-use costs that would otherwise queue the open loop.
            for i, lines in enumerate(warm_lines):
                tmp = os.path.join(stage, f"w{i:03d}.txt")
                with open(tmp, "w") as fh:
                    fh.write("\n".join(lines) + "\n")
                os.rename(tmp, os.path.join(src, f"w{i:03d}.txt"))
                deadline = time.time() + DRAIN_TIMEOUT_S
                while _consumed(q) < (i + 1) * LINES_PER_FILE and time.time() < deadline:
                    time.sleep(0.01)
        n_warm_batches = len(q.recentProgress)
        start = time.time() + LEAD_S
        win_lo, win_hi = start + WARMUP_S, start + WARMUP_S + ctx.seconds
        spec = {"dir": src, "staging": stage, "log": os.path.join(ctx.work, "gen.log"),
                "t0": start, "period_s": PERIOD_S, "files": file_lines}
        spec_path = os.path.join(ctx.work, "gen.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        ctx.setup["warmup"] += LEAD_S + WARMUP_S  # files due before the window

        marks = {}
        if ctx.trace:
            # Snapshots at the window edges; the generator runs meanwhile.
            import threading

            def snap(at: float, key: str) -> None:
                time.sleep(max(0.0, at - time.time()))
                marks[key] = (set(probes.group_ids(spark, [str(q.runId)])), probes.jvm_gc_s(spark))

            threads = [threading.Thread(target=snap, args=(t, k), daemon=True)
                       for t, k in ((win_lo, "lo"), (win_hi, "hi"))]
            for t in threads:
                t.start()
        _run_generator(spec_path, LEAD_S + WARMUP_S + ctx.seconds + 60)
        if ctx.trace:
            for t in threads:
                t.join()
        total_rows = (WARM_FILES + n_files) * LINES_PER_FILE
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline and _consumed(q) < total_rows:
            time.sleep(0.05)
        progress = q.recentProgress[n_warm_batches:]
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"trickle query failed: {q.exception()}")

    with open(spec["log"]) as fh:
        files = [json.loads(line) for line in fh]
    batches = [probes.batch_record(p) for p in progress]
    if not batches:
        raise RuntimeError("trickle query left no progress ledger")
    lat = match_files([(f["due"], f["rows"]) for f in files], [(b["end"], b["rows"]) for b in batches])
    measured = [(f, x) for f, x in zip(files, lat) if win_lo <= f["due"] < win_hi]
    res.attempted = len(measured)
    ok = [x for _, x in measured if x is not None]
    backlog_end = sum(1 for x in lat if x is None)
    late_s = max(f["landed"] - f["due"] for f, _ in measured)
    growth = _backlog_growth(files, lat, [b["end"] for b in batches], win_lo, win_hi)

    invalid = []
    if late_s > PERIOD_S:
        invalid.append(f"generator ran {late_s:.3f} s late (> one period)")
    if growth > 1.0 / PERIOD_S:
        invalid.append(f"backlog grew by {growth:.1f} files across the window")
    if backlog_end:
        invalid.append(f"{backlog_end} files never consumed")
    landed = warm_lines + file_lines
    want = gen.top_k(Counter(w for lines in landed for line in lines for w in line.split()))
    got = [(r[0], r[1]) for r in streaming.read_latest(spark, out, RESULT).collect()]
    if sorted(got, key=lambda r: (-r[1], r[0])) != [tuple(x) for x in want]:
        invalid.append(f"final sink version {got} != reference {want}")
    if invalid:
        res.failed = res.attempted
        res.errors = invalid
    else:
        res.failed = res.attempted - len(ok)
    res.unit_s = median(ok) if ok else float("nan")
    res.detail = {
        "latency_p50_s": res.unit_s,
        "latency_p95_s": percentile(ok, 0.95) if supported(len(ok), 0.95) else None,
        "measured_files": len(ok),
        "gen.late_s": late_s,
        "gen.backlog_growth_files": growth,
        "offered_lines_per_s": LINES_PER_FILE / PERIOD_S,
    }
    if ctx.trace:
        win = [b for b in batches if win_lo <= b["end"] < win_hi]
        groups = probes.job_counts(spark, sorted(marks["hi"][0] - marks["lo"][0]))
        groups["gc_s"] = marks["hi"][1] - marks["lo"][1]
        nb = max(len(win), 1)
        layers = {
            "query.build_s": build_s,
            "spark.exec_s": median([b["phases"]["trigger_ms"] for b in win]) / 1000,
            "catalyst.plan_s": median([b["phases"]["query_planning_ms"] for b in win]) / 1000,
            "streaming.batches": len(win),
            "streaming.empty_batches": sum(1 for b in win if b["rows"] == 0),
            "streaming.state_rows": batches[-1]["state_rows"],
            "streaming.state_bytes": batches[-1]["state_bytes"],
            "streaming.sink_versions": len(streaming.list_versions(out, RESULT)),
            "gen.backlog_files": backlog_end,
            "spark.slot_util": slot_util(groups["task_s"], ctx.seconds, ctx.cores),
            **{f"spark.{k}": v / nb for k, v in groups.items()},
        }
        for phase in probes.PHASES.values():
            layers[f"streaming.{phase}"] = median([b["phases"][phase] for b in win])
        res.layers = layers
        # Tracing here only snapshots counters at the window edges and reads
        # the ledger afterwards; there is no untraced twin in the same run.
        res.detail["trace_overhead_s"] = None
    return res

