#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, every metric by name.

    python3 perfbench/run.py --workload apps_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine sees only inputs generated from
``--seed``; Spark runs on ``local[<cores>]`` and every file the run writes
lives under ``.perfbench_work/`` in the checkout, removed at the end.

Output: one ``perfbench detail: {...}`` line with the workload's named
metrics (lines/s per app, latency percentiles, registry seconds, error
rate, set-up phases, tracing overhead, failure messages), then, as the last
line, the JSON result ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones below; with
``--trace 1`` the per-layer ones, measured from outside the engine around
its public entry points.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import tempfile
import time

import probes
from harness import Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"apps_drain": "wl_apps", "stream_trickle": "wl_trickle", "registry_mix": "wl_registry"}


def _declared() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot: a run whose
    steal grew was measured on a contended machine."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _isolate(work: str, cores: int, trace: bool) -> dict[str, str]:
    """Point every temporary directory the engine, Spark and Python use
    into ``work``, and size Spark to the machine."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # write every task end to the status store the traced run reads
        conf["spark.ui.liveUpdate.period"] = "0"
    return conf


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to killing it
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "crane_stream_processing_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    t_start, steal0 = time.perf_counter(), _steal_s()
    cores = _cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        conf = _isolate(work, cores, bool(args.trace))
        t0 = time.perf_counter()
        from crane_stream_processing_spark.session import get_spark

        import_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                  work=work, cores=cores, setup={"import": import_s, "session": session_s})
        res = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        peak = probes.peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there

    if not math.isfinite(res.unit_s):
        raise SystemExit(f"perfbench: no {args.workload} unit succeeded: {res.errors[:5]}")
    setup_s = sum(ctx.setup.values())
    correct = res.failed == 0
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores,
        "error_rate": res.failed / max(res.attempted, 1),
        "setup_phases_s": ctx.setup,
        "wall_s": time.perf_counter() - t_start,
        "steal_s": _steal_s() - steal0,
        "peak_rss_mb": peak,
        **res.detail,
        "errors": res.errors[:20],
    }
    print("perfbench detail: " + json.dumps(detail, default=str))
    end_to_end, per_layer = _declared()
    if args.trace:
        values = {"session.start_s": session_s, "gen.s": ctx.setup.get("gen", 0.0), **res.layers}
        declared = per_layer
    else:
        values = {"setup_s": setup_s, "unit_s": res.unit_s}
        declared = end_to_end
    metrics = {k: {"value": float(values.get(k, 0)), "unit": u} for k, u in declared.items()}
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
