"""Round-11 optimization invariants: per-query streaming state-partition
widths and the recursion clone's scoped confs (per-artifact build
attribution is tested in test_artifacts.py)."""

from __future__ import annotations

from crane_stream_processing_spark.inventory.streaming_queries import (
    _scoped_stream_partitions,
)


def test_scoped_stream_partitions_per_query_width(spark):
    """A query-level ``parts`` narrows the drain's shuffle width, and the
    host session's conf is restored afterward."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with _scoped_stream_partitions(spark, parts=2):
        assert spark.conf.get(key) == "2"
    assert spark.conf.get(key) == prev


def test_scoped_stream_partitions_env_overrides_query_width(spark, monkeypatch):
    """SPARK_GRAFT_STREAM_PARTITIONS (the production knob — O(total
    cores) on a real cluster) always beats a per-query default."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "6")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with _scoped_stream_partitions(spark, parts=2):
        assert spark.conf.get(key) == str(min(int(prev), 6))
    assert spark.conf.get(key) == prev


def test_recursion_clone_scopes_aqe_off_for_floor_sized_input(spark, sf_dir):
    """The recursive CTE disables AQE ONLY in its clone session and ONLY
    when the input's scan splits are at/below the width floor — the host
    session's planner conf must never change (the round-10 clone-session
    discipline)."""
    from crane_stream_processing_spark.inventory import (
        REGISTRY,
        release_query_caches,
    )

    host_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    host_parts = spark.conf.get("spark.sql.shuffle.partitions")
    df = REGISTRY["sql_recursive_order_chain"].fn(spark, sf_dir)
    rec = df.sparkSession  # the clone the query built
    assert rec is not spark
    # sf0.001 orders is a single split -> floor-sized -> AQE off in clone
    assert rec.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == host_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == host_parts
    df.write.mode("overwrite").format("noop").save()
    release_query_caches(spark)
