"""SparkSession factory tuned for this engine.

The reference system ran on a fixed 10-VM topology with hand-assigned roles
(reference ``server/Crane.go:325-343``); here the "cluster" is whatever the
SparkSession is pointed at — local[N] for tests, a real cluster in prod.
All scale knobs live in one place so tests and bench share them.

Scale rationale (100 TB design):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  the static ``shuffle.partitions`` only needs to be an upper bound.
- ``autoBroadcastJoinThreshold`` left at default (10 MB): dimension tables
  (region/nation/supplier/part at any SF) broadcast automatically; fact-fact
  joins go sort-merge with AQE skew handling.
- Arrow enabled: every pandas_udf / applyInPandas path is Arrow-batched.
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle
  and are cluster-independent.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS", "exclude_generate_filter_rule"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# InferFiltersFromGenerate adds a `size(e) > 0` pre-filter before every
# explode; pushdown then moves it below exchanges and CollapseProject
# inlines the generator's full expression tree into the filter. For cheap
# arrays that's a win, but for computed pipelines (tokens → shingles →
# explode) the inlined copy re-evaluates the whole pipeline per row — and
# higher-order lambdas get no CSE, so the filter alone cost ~50× the
# generate (measured: 13 s vs 0.3 s on the sf0.1 decontamination scan,
# single-partition because the filter also lands below the repartition).
# Excluding the rule is semantics-preserving (it only prunes rows the
# Generate would drop anyway).
_GENERATE_FILTER_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def exclude_generate_filter_rule(spark: SparkSession) -> None:
    """Append InferFiltersFromGenerate to the session's excluded optimizer
    rules (runtime-safe: works on sessions the engine didn't build)."""
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    if not cur:
        spark.conf.set("spark.sql.optimizer.excludedRules", _GENERATE_FILTER_RULE)
    elif _GENERATE_FILTER_RULE not in cur:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules", f"{cur},{_GENERATE_FILTER_RULE}"
        )


_WAREHOUSE_DIR: str | None = None


def _process_warehouse() -> str:
    """One tempdir per process, created lazily and removed at interpreter
    exit — repeated get_spark() calls must not each mint (and orphan) a
    directory the already-created session will never use."""
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        import atexit
        import shutil

        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix="crane_warehouse_")
        atexit.register(shutil.rmtree, _WAREHOUSE_DIR, ignore_errors=True)
    return _WAREHOUSE_DIR


def get_spark(
    app_name: str = "crane_stream_processing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when not already set
    by the environment; on a real cluster pass ``master=None`` and submit
    via spark-submit so the cluster manager decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        # Under a cluster manager the master is already decided before
        # Python runs: spark-submit pre-launches the JVM and hands Python
        # a gateway (PYSPARK_GATEWAY_PORT) — it never sets
        # PYSPARK_SUBMIT_ARGS (that var is only consumed when Python
        # launches the JVM itself). Forcing .master() in either case
        # would silently override yarn/k8s and run the whole job local on
        # the driver node. Default to local[N] only when this process
        # owns the JVM launch and no submit-time master exists.
        submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        jvm_prelaunched = "PYSPARK_GATEWAY_PORT" in os.environ
        if "--master" not in submit_args and not jvm_prelaunched:
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type, so
        # read as long and let the catalog convert (integer div — no double
        # precision loss; see catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.excludedRules", _GENERATE_FILTER_RULE)
        # row_number()<=k filters rewrite to map-side WindowGroupLimit
        # (per-group top-k heap before the shuffle) only when k is under
        # this threshold; the token-budget fill cuts at k=2000, above the
        # 1000 default. Memory is bounded by k rows per group per task.
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "100000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Per-process warehouse: the default ./spark-warehouse is shared by
        # every process launched from the repo root, so concurrent test /
        # bench runs clobber each other's managed tables (the bucketed-join
        # fixture drops + rewrites its tables on miss). Static conf — takes
        # effect only when this factory creates the first session; the
        # bucketed fixture reads the conf dynamically, so sessions the
        # engine didn't build still work on their own warehouse.
        .config("spark.sql.warehouse.dir", _process_warehouse())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ResolveWriteToStream warns once per streaming query start that
    # session-wide AQE is disabled for the stream (and that a temporary
    # checkpoint was created); both are analysis-time notices, so only
    # errors from that class reach the log. AQE itself is untouched.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
