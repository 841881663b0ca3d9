#!/usr/bin/env python
"""Per-query optimization measurement harness.

Times a named subset of registry queries with the noop sink (guide §1.4)
under the same session config as bench.py. Each timed run is its own
Spark job group, so the harness prints the query's job count beside its
min time, the whole-stage and expression classes Spark compiled during
that run (the delta of ``CodegenMetrics.METRIC_COMPILATION_TIME``'s
count: a warm run that still compiles has lost its classes from Spark's
generated-class cache), the processes forked during it and the JVM threads
started during it. Forks are the delta of the ``processes`` counter in
``/proc/stat``, which counts every fork and clone SYSTEM-WIDE, threads
included, so other work on the machine inflates it; threads are the delta
of the JVM's ``ThreadMXBean.getTotalStartedThreadCount``. Forks beyond the
threads are processes: Python workers, or a Hadoop shell command (the
session's local filesystem runs none on checkpoint creates, mkdirs and
renames). ``--plans TAG`` also dumps ``explain("formatted")``
to ``plans/<round>/<query>_<TAG>.txt`` (the plan evidence).

Usage:
    python tools/opt_measure.py [--plans TAG] [--runs N] q1 q2 ...
    python tools/opt_measure.py --top 20            # 20 slowest from BENCH_DETAIL.json

Prints ``<min s>  <jobs>  <compiles>  <forks>  <threads>  <query>`` per
query (counts of the fastest run), then one JSON line ``{"total",
"queries", "jobs", "compiles", "forks", "threads"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force, warm_up  # noqa: E402
from crane_stream_processing_spark.inventory import (  # noqa: E402
    REGISTRY,
    fixture_seconds,
    release_query_caches,
)
from crane_stream_processing_spark.session import get_spark  # noqa: E402

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("CRANE_PLANS_ROUND", "r11")
)


def forks_since_boot() -> int:
    """System-wide count of processes forked since boot (Linux)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("no 'processes' line in /proc/stat")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--top", type=int, default=0,
                    help="add the N slowest queries from BENCH_DETAIL.json")
    ap.add_argument("--runs", type=int, default=2,
                    help="timed runs per query (min is reported)")
    ap.add_argument("--plans", default=None,
                    help="dump explain('formatted') as plans/<round>/<q>_<TAG>.txt")
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    names = list(args.queries)
    if args.top:
        detail = json.load(open(os.path.join(
            os.path.dirname(os.path.dirname(PLANS_DIR)), "BENCH_DETAIL.json")))
        ranked = sorted(detail["queries"].items(), key=lambda kv: -kv[1])
        for n, _ in ranked[: args.top]:
            if n not in names:
                names.append(n)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("opt_measure")

    warm_up(spark, sf_dir)

    if args.plans:
        os.makedirs(PLANS_DIR, exist_ok=True)

    out: dict[str, float] = {}
    jobs: dict[str, int] = {}
    compiles: dict[str, int] = {}
    forks: dict[str, int] = {}
    threads: dict[str, int] = {}
    tracker = spark.sparkContext.statusTracker()
    jvm = spark.sparkContext._jvm
    compile_time = (jvm.org.apache.spark.metrics.source
                    .CodegenMetrics.METRIC_COMPILATION_TIME())
    thread_mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    print(f"{'min_s':>8}  {'jobs':>4}  {'compiles':>8}  {'forks':>6}  {'threads':>7}"
          "  query  (forks: system-wide)", flush=True)
    for name in names:
        best = None
        for run in range(args.runs):
            group = f"opt_measure:{name}:{run}"
            spark.sparkContext.setJobGroup(group, group)
            f0 = fixture_seconds()
            c0 = compile_time.getCount()
            s0 = thread_mx.getTotalStartedThreadCount()
            p0 = forks_since_boot()
            t0 = time.perf_counter()
            force(REGISTRY[name].fn(spark, sf_dir))
            wall = time.perf_counter() - t0
            forked = forks_since_boot() - p0
            started = thread_mx.getTotalStartedThreadCount() - s0
            compiled = compile_time.getCount() - c0
            op = max(wall - (fixture_seconds() - f0), 0.0)
            if best is None or op < best:
                best, jobs[name] = op, len(tracker.getJobIdsForGroup(group))
                compiles[name], forks[name], threads[name] = compiled, forked, started
            release_query_caches(spark)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        out[name] = round(best, 4)
        print(f"{best:8.3f}  {jobs[name]:4d}  {compiles[name]:8d}  {forks[name]:6d}"
              f"  {threads[name]:7d}  {name}", flush=True)
        if args.plans:
            df = REGISTRY[name].fn(spark, sf_dir)
            with open(os.path.join(PLANS_DIR, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            release_query_caches(spark)

    print(json.dumps({"total": round(sum(out.values()), 3), "queries": out,
                      "jobs": jobs, "compiles": compiles, "forks": forks,
                      "threads": threads}))
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
