"""``registry_mix``: closed loop, one client, over a fixed subset of the
query registry: every ``STRIDE``-th name of ``sorted(REGISTRY)`` (so the
subset is proportional to family size and holds a ``stream_*`` drain) plus
the three queries the roadmap names.

The tables are generated at sf0.01 from a fixed seed, as TESTDATA.md's are.
An untimed set-up pass builds every fixture and compares each query with
its DuckDB oracle on the same tables, normalised as
``tools/driver_check.py`` does. Timed passes then run the subset in an
order drawn from the workload seed, each query forced with ``bench.py``'s
noop write and followed by ``release_query_caches``. The median query takes well under a
second, so fixed per-query machinery dominates: builder eager jobs,
planning, task fan-out and per-drain streaming coordination.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import random
import time
from itertools import zip_longest
from statistics import median

import gen
import probes
from harness import Ctx, Result, force
from stats import percentile, slot_util, supported

SF = 0.01
STRIDE = 34
NAMED = ("sql_recursive_order_chain", "dedup_minhash_lsh_jaccard", "text_bm25_search")
LEDGER_TIMEOUT_S = 10.0


def subset(names: list[str]) -> list[str]:
    names = sorted(names)
    return sorted(set(names[::STRIDE]) | set(NAMED))


def _oracle_norm(root: str):
    path = os.path.join(root, "tools", "driver_check.py")
    spec = importlib.util.spec_from_file_location("driver_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def _check(spark, con, norm, q, sf_dir: str) -> str | None:
    """Run one query and its oracle; return a mismatch description."""
    sdf = q.fn(spark, sf_dir)
    s_cols, s_rows = norm([tuple(r) for r in sdf.collect()], sdf.columns)
    if q.oracle is None:
        return None
    d = con.execute(q.oracle)
    d_cols, d_rows = norm(d.fetchall(), [c[0] for c in d.description])
    if s_cols != d_cols:
        return f"columns {s_cols} != oracle {d_cols}"
    if s_rows != d_rows:
        bad = next((a, b) for a, b in zip_longest(s_rows, d_rows) if a != b)
        return f"rows {len(s_rows)}/{len(d_rows)}; first difference spark={bad[0]} oracle={bad[1]}"
    return None


class _Tracer:
    """Per-execution layer record for one registry query, from outside."""

    def __init__(self, spark):
        from crane_stream_processing_spark.streaming import ProgressRecorder

        self.spark = spark
        self.rec = ProgressRecorder()
        spark.streams.addListener(self.rec)

    def close(self) -> None:
        self.spark.streams.removeListener(self.rec)

    def run(self, name: str, fn, sf_dir: str, k: int) -> dict:
        from crane_stream_processing_spark.inventory import fixture_build_seconds, fixture_seconds

        spark, rec = self.spark, self.rec
        group = f"perfbench:{name}:{k}"
        n_started, n_progress = len(rec.started), len(rec.progress)
        f0, b0, gc0 = fixture_seconds(), fixture_build_seconds(), probes.jvm_gc_s(spark)
        probes.set_group(spark, group)
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            eager = len(probes.group_ids(spark, [group]))
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            force(df)
            t3 = time.perf_counter()
        finally:
            probes.set_group(spark, None)
        started = self._ledger(n_started)
        batches = [probes.batch_record(p) for p in rec.progress[n_progress:]]
        if started and not batches:
            raise RuntimeError(f"{name}: {len(started)} streaming drain(s) left no progress ledger")
        b1 = fixture_build_seconds()
        out = {
            "inventory.build_s": t1 - t0,
            "query.build_s": t1 - t0,
            "inventory.eager_jobs": eager,
            "inventory.fixture_s": fixture_seconds() - f0,
            "inventory.fixture_builds": sum(1 for f, s in b1.items() if s != b0.get(f)),
            "catalyst.plan_s": t2 - t1,
            "spark.exec_s": t3 - t2,
            "spark.gc_s": probes.jvm_gc_s(spark) - gc0,
            "streaming.batches": len(batches),
            "streaming.empty_batches": sum(1 for b in batches if b["rows"] == 0),
            "streaming.state_rows": batches[-1]["state_rows"] if batches else 0,
            "streaming.state_bytes": batches[-1]["state_bytes"] if batches else 0,
        }
        groups = [group] + [s["run_id"] for s in started]
        out.update({f"spark.{k}": v for k, v in probes.job_counts(spark, probes.group_ids(spark, groups)).items()})
        for phase in probes.PHASES.values():
            out[f"streaming.{phase}"] = sum(b["phases"][phase] for b in batches)
        return out

    def _ledger(self, n_started: int) -> list[dict]:
        """Streaming queries the call started, once each one's terminated
        event (and so every progress event before it) has been delivered."""
        probes.settle(self.spark)
        started = self.rec.started[n_started:]
        deadline = time.time() + LEDGER_TIMEOUT_S
        while any(s["id"] not in self.rec.terminated for s in started):
            if time.time() > deadline:
                raise RuntimeError("streaming query never reported termination")
            time.sleep(0.02)
        return started


def run(ctx: Ctx) -> Result:
    spark, res = ctx.spark, Result()
    with ctx.timed_setup("import"):
        import duckdb

        from crane_stream_processing_spark.inventory import REGISTRY, fixture_seconds, release_query_caches

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.path.join(ctx.work, "tables")
    with ctx.timed_setup("gen"):
        gen.write_tables(sf_dir, SF, gen.CONTENT_SEED)
    names = subset(list(REGISTRY))

    with ctx.timed_setup("check_pass"):
        norm = _oracle_norm(root)
        con = duckdb.connect()
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
        f0 = fixture_seconds()
        check_s = {}
        for name in names:
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                err = _check(spark, con, norm, REGISTRY[name], sf_dir)
            except Exception as e:  # noqa: BLE001 — count it, keep checking
                err = f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                release_query_caches(spark)
                check_s[name] = round(time.perf_counter() - t0, 3)
            if err:
                res.fail(f"{name}: {err}")
        fixture_setup_s = fixture_seconds() - f0
        con.close()

    tracer = _Tracer(spark) if ctx.trace else None
    rng = random.Random(ctx.seed)
    runs: dict[str, list[float]] = {n: [] for n in names}
    pass_s = {True: [], False: []}  # traced? -> per-execution seconds
    done = {True: 0, False: 0}  # traced? -> whole passes run
    passes: list[dict] = []
    k, t_end = 0, time.perf_counter() + ctx.seconds
    # Whole passes only, so every query has the same number of samples; a
    # traced run alternates traced and untraced passes (at least one each).
    try:
        while time.perf_counter() < t_end or (ctx.trace and not done[False]):
            traced = ctx.trace and done[True] <= done[False]
            order = list(names)
            rng.shuffle(order)
            agg: dict[str, float] = {}
            for name in order:
                k += 1
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    if traced:
                        rec = tracer.run(name, REGISTRY[name].fn, sf_dir, k)
                    else:
                        force(REGISTRY[name].fn(spark, sf_dir))
                except Exception as e:  # noqa: BLE001 — count it, keep the run going
                    res.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                finally:
                    sec = time.perf_counter() - t0
                    release_query_caches(spark)
                runs[name].append(sec)
                pass_s[traced].append(sec)
                if traced:
                    for key, v in rec.items():
                        agg[key] = agg.get(key, 0) + v
            done[traced] += 1
            if traced:
                passes.append(agg)
    finally:
        if tracer:
            tracer.close()

    execs = pass_s[False] or pass_s[True]
    res.unit_s = sum(median(v) for v in runs.values() if v) if execs else float("nan")
    res.detail = {
        "query_p50_s": median(execs) if execs else None,
        "query_p90_s": percentile(execs, 0.9) if execs and supported(len(execs), 0.9) else None,
        "registry_s": res.unit_s,
        "executions": len(execs),
        "queries": names,
        "inventory.fixture_s_setup": fixture_setup_s,
        "check_pass_s": check_s,
        "query_s": {n: round(median(v), 4) for n, v in runs.items() if v},
    }
    if ctx.trace and passes:
        layers = {key: median([p.get(key, 0) for p in passes]) for key in passes[0]}
        layers["spark.slot_util"] = median(
            [slot_util(p["spark.task_s"], p["spark.exec_s"] + p["inventory.build_s"], ctx.cores) for p in passes]
        )
        res.layers = layers
        res.detail["trace_overhead_s"] = median(pass_s[True]) - median(pass_s[False])
    return res
