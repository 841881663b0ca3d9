"""``apps_drain``: closed loop, one client. Each timed unit drains one
reference app's whole input ``availableNow`` into a complete-mode memory
sink, through the same pipelines ``bench.py`` times (``apps.wordcount``,
``apps.top_users``, ``apps.hot_resources``). A round drains every app once,
in an order drawn from the seed; each app's first drain is set-up.

Each drain is one micro-batch dominated by ``addBatch`` (scan,
tokenize/split, partial aggregate, one shuffle), so this workload is
data-bound and blind to builder and per-batch overhead.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from statistics import median

import gen
import probes
from harness import Ctx, Result
from stats import slot_util

SCALE = 0.25  # share of bench.py's sf0.1 input sizes (~44 + 39 + 36 MB)
APPS = ("wordCount", "twitter", "hothttp")
WARM_ROUNDS = 2


def _write_input(text: str, path: str, parts: int) -> None:
    """Split the input into ``parts`` files on line boundaries: the drain
    reads one task per file, so one file per core as in ``bench.py``."""
    os.makedirs(path)
    lines = text.splitlines(keepends=True)
    step = -(-len(lines) // parts)
    for i in range(parts):
        with open(os.path.join(path, f"part-{i:03d}.txt"), "w") as fh:
            fh.writelines(lines[i * step:(i + 1) * step])


def _drain(ctx: Ctx, app: str, src: str, n: int, trace: bool) -> tuple[float, list, dict]:
    """One availableNow drain; returns (seconds, top-5 rows, layer record)."""
    from crane_stream_processing_spark.apps import APP_REGISTRY

    spark = ctx.spark
    ckpt = os.path.join(ctx.work, "ckpt", f"{app}-{n}")
    name = f"perfbench_{app}"
    gc0 = probes.jvm_gc_s(spark) if trace else 0.0
    t0 = time.perf_counter()
    q = (
        APP_REGISTRY[app](spark.readStream.text(src))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    t_built = time.perf_counter()
    q.awaitTermination()
    sec = time.perf_counter() - t0
    rec: dict = {}
    if trace:
        batches = [probes.batch_record(p) for p in q.recentProgress]
        if not batches:
            raise RuntimeError(f"{app}: drain finished with no progress ledger")
        groups = probes.job_counts(spark, probes.group_ids(spark, [str(q.runId)]))
        rec = {
            "query.build_s": t_built - t0,
            "spark.exec_s": sec,
            "spark.gc_s": probes.jvm_gc_s(spark) - gc0,
            "catalyst.plan_s": sum(b["phases"]["query_planning_ms"] for b in batches) / 1000,
            "streaming.batches": len(batches),
            "streaming.empty_batches": sum(1 for b in batches if b["rows"] == 0),
            "streaming.state_rows": batches[-1]["state_rows"],
            "streaming.state_bytes": batches[-1]["state_bytes"],
            **{f"spark.{k}": v for k, v in groups.items()},
        }
        for phase in probes.PHASES.values():
            rec[f"streaming.{phase}"] = sum(b["phases"][phase] for b in batches)
    rows = [(r[0], r[1]) for r in spark.table(name).collect()]
    shutil.rmtree(ckpt, ignore_errors=True)
    return sec, rows, rec


def run(ctx: Ctx) -> Result:
    res = Result()
    with ctx.timed_setup("gen"):
        inputs = gen.app_lines(SCALE, ctx.seed)
        for app in APPS:
            _write_input(inputs[app]["text"], os.path.join(ctx.work, "in", app), ctx.cores)
            inputs[app]["text"] = None  # free ~30 MB of strings before the drains
    srcs = {app: os.path.join(ctx.work, "in", app) for app in APPS}

    def check(app: str, rows: list) -> bool:
        want = [tuple(x) for x in inputs[app]["expected"]]
        if sorted(rows, key=lambda r: (-r[1], r[0])) != want:
            res.fail(f"{app}: top-5 {rows} != reference {want}")
            return False
        return True

    with ctx.timed_setup("warmup"):
        # The first drains of each app pay compile and JIT warm-up: set-up.
        for w in range(WARM_ROUNDS):
            for app in APPS:
                _, rows, _ = _drain(ctx, app, srcs[app], -1 - w, False)
                check(app, rows)

    rng = random.Random(ctx.seed)
    secs: dict[str, list[float]] = {a: [] for a in APPS}
    round_s = {True: [], False: []}  # traced? -> round seconds
    rounds: list[dict] = []
    n, t_end = 0, time.perf_counter() + ctx.seconds
    # Whole rounds only, so every app has the same number of samples; a
    # traced run alternates traced and untraced rounds (at least one each)
    # to state the tracing overhead from the same process.
    while time.perf_counter() < t_end or (ctx.trace and not round_s[False]):
        traced = ctx.trace and len(round_s[True]) <= len(round_s[False])
        order = list(APPS)
        rng.shuffle(order)
        total, agg = 0.0, {}
        for app in order:
            n += 1
            res.attempted += 1
            try:
                sec, rows, rec = _drain(ctx, app, srcs[app], n, traced)
            except Exception as e:  # noqa: BLE001 — count it, keep the run going
                res.fail(f"{app}: {type(e).__name__}: {e}")
                continue
            if check(app, rows):
                secs[app].append(sec)
            total += sec
            for k, v in rec.items():
                agg[k] = agg.get(k, 0) + v
        round_s[traced].append(total)
        if traced:
            rounds.append(agg)

    lines = {a: inputs[a]["lines"] for a in APPS}
    med = {a: median(s) for a, s in secs.items() if s}
    res.unit_s = sum(med.values()) if len(med) == len(APPS) else float("nan")
    res.detail = {
        "wordcount_lines_per_s": lines["wordCount"] / med["wordCount"] if "wordCount" in med else None,
        "top_users_lines_per_s": lines["twitter"] / med["twitter"] if "twitter" in med else None,
        "hot_resources_lines_per_s": lines["hothttp"] / med["hothttp"] if "hothttp" in med else None,
        "drain_s": {a: [round(x, 3) for x in s] for a, s in secs.items()},
        "input_lines": lines,
    }
    if ctx.trace and rounds:
        layers = {k: median([r.get(k, 0) for r in rounds]) for k in rounds[0]}
        layers["spark.slot_util"] = median(
            [slot_util(r["spark.task_s"], r["spark.exec_s"], ctx.cores) for r in rounds]
        )
        res.layers = layers
        res.detail["trace_overhead_s"] = median(round_s[True]) - median(round_s[False])
    return res
