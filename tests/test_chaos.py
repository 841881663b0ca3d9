"""Fault-injection parity with the reference's evaluation.

The reference's headline experiments run the apps WITH injected worker
faults (SWIM failure detection, reference/server/failure-detector.go:30,59;
role reassignment / standby master, reference/server/Crane.go:325-406;
MP4 PDF §4 Fig. 2D-2F). Spark's equivalent fault domain is task failure +
deterministic lineage recompute: a dead executor surfaces as failed task
attempts that the scheduler replays elsewhere. These tests kill task
attempts mid-query — a Python-side raise on the first attempt of a chosen
partition — inside a dedicated subprocess session whose master
``local[4, 2]`` grants one retry, then assert the faulted run's output is
bit-identical to the no-fault truth, for a batch aggregate and for a
multi-microbatch streaming wordcount (exactly-once under faults).

Run in a subprocess because task-retry policy (maxFailures) is fixed at
SparkContext construction and the shared test session runs local[N]
(fail-fast, retries=1).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

CHAOS_SCRIPT = r'''
import glob
import json
import os
import shutil
import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

MARKERS = tempfile.mkdtemp(prefix="chaos_markers_")
WAREHOUSE = tempfile.mkdtemp(prefix="chaos_wh_")
src = tempfile.mkdtemp(prefix="chaos_src_")
ckpt = tempfile.mkdtemp(prefix="chaos_ckpt_")
try:
    spark = (
        SparkSession.builder.appName("chaos")
        .master("local[4, 2]")  # 4 threads, 2 task attempts: one retry
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", WAREHOUSE)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def flaky(it):
        """mapInPandas passthrough that dies on the FIRST attempt of every
        task covering partition 0 — the moral equivalent of the worker hosting
        that partition crashing mid-task. Drops a marker file per injected
        death (local mode: executor shares the driver host) so the test can
        prove faults actually fired rather than silently not triggering."""
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            open(os.path.join(MARKERS, f"death_{tc.taskAttemptId()}"), "w").close()
            raise RuntimeError("chaos: injected task failure")
        yield from it

    results = {}

    # --- batch: keyed aggregate over a faulted scan --------------------------
    df = spark.range(0, 20000, 1, 4).withColumn("k", F.col("id") % 7)
    truth = sorted(
        df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
        ).collect()
    )
    faulted = sorted(
        df.mapInPandas(flaky, "id long, k long")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
        .collect()
    )
    results["batch_ok"] = [tuple(r) for r in truth] == [tuple(r) for r in faulted]

    # --- streaming: 3-microbatch wordcount with a death per microbatch -------
    words = ["alpha", "beta", "gamma", "delta"]
    for b in range(3):
        with open(os.path.join(src, f"f{b}.txt"), "w") as f:
            for i in range(500):
                f.write(f"{words[i % 4]} {words[(i + b) % 4]}\n")

    batch_truth = sorted(
        spark.read.text(src)
        .select(F.explode(F.split("value", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    lines = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
    counts = (
        lines.repartition(4)
        .mapInPandas(flaky, "value string")
        .select(F.explode(F.split("value", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("chaos_wc")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = sorted(spark.sql("SELECT w, n FROM chaos_wc").collect())
    results["stream_ok"] = (
        [tuple(r) for r in batch_truth] == [tuple(r) for r in stream_rows]
    )
    results["n_injected_deaths"] = len(glob.glob(os.path.join(MARKERS, "death_*")))
    results["dirs"] = [src, ckpt, MARKERS, WAREHOUSE]

    print(json.dumps(results))
    spark.stop()
finally:
    for d in (src, ckpt, MARKERS, WAREHOUSE):
        shutil.rmtree(d, ignore_errors=True)
'''


def test_task_failure_recovery_batch_and_stream():
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)  # own JVM, own retry policy
    proc = subprocess.run(
        [sys.executable, "-c", CHAOS_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, f"chaos subprocess failed:\n{proc.stderr[-4000:]}"
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["batch_ok"], "batch aggregate diverged after task retry"
    assert out["stream_ok"], "streaming wordcount not exactly-once under faults"
    # faults must have actually fired: >= 1 injected death in the batch job
    # and >= 1 per streaming microbatch is expected, but scheduling can
    # merge attempts — require at least 2 total to prove both paths faulted
    assert out["n_injected_deaths"] >= 2, out
    assert not [d for d in out["dirs"] if os.path.exists(d)], "temp dirs left behind"


REGISTRY_CHAOS_SCRIPT = r'''
import json
import os
import shutil
import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.environ["CRANE_REPO_ROOT"])

MARKERS = tempfile.mkdtemp(prefix="chaos_markers_")
WAREHOUSE = tempfile.mkdtemp(prefix="chaos_wh_")
try:
    spark = (
        SparkSession.builder.appName("chaos_registry")
        .master("local[4, 2]")  # one retry per task
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", WAREHOUSE)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from crane_stream_processing_spark import inventory

    SF = os.environ.get("CRANE_CHAOS_SF_DIR", "/root/testdata/sf0.001")

    # Representative shapes: shuffle aggregate, window top-k, the new
    # nearest as-of (union + two window frames), iterative localCheckpoint
    # pagerank, LSH banding dedup, and the hash-based k-fold splitter.
    QUERIES = [
        "q1_pricing_summary",
        "window_top3_orders_per_customer",
        "join_asof_nearest_purchase",
        "graph_pagerank_nation",
        "dedup_minhash_lsh_jaccard",
        "curate_kfold_split",
    ]

    def flaky_wrap(df):
        """Append a passthrough stage that kills the first attempt of every
        task covering partition 0 — injected AFTER each table scan, so every
        query's input path faults at least once."""
        from pyspark import TaskContext

        def flaky(it):
            tc = TaskContext.get()
            if tc.partitionId() == 0 and tc.attemptNumber() == 0:
                open(os.path.join(MARKERS, f"death_{tc.taskAttemptId()}"), "w").close()
                raise RuntimeError("chaos: injected task failure")
            yield from it

        return df.mapInPandas(flaky, df.schema)

    orig_load = inventory.load_table
    results = {}
    for name in QUERIES:
        truth = sorted(
            [tuple(r) for r in inventory.REGISTRY[name].fn(spark, SF).collect()],
            key=repr,
        )
        inventory.load_table = lambda s, d, t: flaky_wrap(orig_load(s, d, t))
        try:
            faulted = sorted(
                [tuple(r) for r in inventory.REGISTRY[name].fn(spark, SF).collect()],
                key=repr,
            )
        finally:
            inventory.load_table = orig_load
        inventory.release_query_caches(spark)
        results[name] = (truth == faulted) and len(truth) > 0

    import glob

    results["n_injected_deaths"] = len(glob.glob(os.path.join(MARKERS, "death_*")))
    results["dirs"] = [MARKERS, WAREHOUSE]
    print(json.dumps(results))
    spark.stop()
finally:
    for d in (MARKERS, WAREHOUSE):
        shutil.rmtree(d, ignore_errors=True)
'''


def test_registry_queries_bit_identical_under_task_faults():
    """The analytic surface itself — not just the app pipelines — must be
    exactly-once under task death: six representative registry shapes
    (shuffle agg, window top-k, nearest as-of, iterative pagerank over
    localCheckpoints, LSH dedup, hash k-fold) re-run with a
    dying-first-attempt stage injected after EVERY table scan, and each
    must reproduce its no-fault output bit-identically via lineage
    recompute. Runs in a subprocess session (task-retry policy is fixed
    at context construction)."""
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env["CRANE_REPO_ROOT"] = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    proc = subprocess.run(
        [sys.executable, "-c", REGISTRY_CHAOS_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, f"chaos subprocess failed:\n{proc.stderr[-4000:]}"
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    deaths = out.pop("n_injected_deaths")
    assert not [d for d in out.pop("dirs") if os.path.exists(d)], "temp dirs left behind"
    bad = {k: v for k, v in out.items() if not v}
    assert not bad, f"diverged or empty under faults: {bad}"
    # every query's faulted run must have actually faulted at least once
    assert deaths >= len(out), f"only {deaths} deaths for {len(out)} queries"
