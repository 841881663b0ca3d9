"""Warm queries reuse their compiled code.

Spark keeps the classes it generates for whole-stage and expression code
in one JVM-wide LRU cache, sized by the static conf
``spark.sql.codegen.cache.maxEntries`` (default 100). A workload whose
queries together need more classes than that evicts its own code and
recompiles it on every pass. ``session.get_spark`` sizes the cache for
the registry's working set, so once a query mix has run, running it again
compiles nothing.
"""

from __future__ import annotations

from crane_stream_processing_spark.inventory import REGISTRY, release_query_caches

# Together these need more than Spark's default 100 cached classes.
MIX = (
    "sql_recursive_order_chain",
    "text_bm25_search",
    "dedup_minhash_lsh_jaccard",
    "evt_retention_cohorts",
)


def _pass_compiles(spark, sf_dir) -> int:
    """Classes compiled while every MIX query runs once, each forced with
    the noop sink and released as in a registry run."""
    metric = (spark.sparkContext._jvm.org.apache.spark.metrics.source
              .CodegenMetrics.METRIC_COMPILATION_TIME())
    before = metric.getCount()
    for name in MIX:
        REGISTRY[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        release_query_caches(spark)
    return metric.getCount() - before


def test_warm_mix_compiles_nothing(spark, sf_dir):
    warm = [_pass_compiles(spark, sf_dir) for _ in range(2)]
    assert _pass_compiles(spark, sf_dir) == 0, f"warm-up passes compiled {warm}"
