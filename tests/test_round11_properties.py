"""Round-11 optimization invariants: per-query streaming state-partition
widths (the recursion clone's scoped confs are tested in
test_recursive_cte.py, per-artifact build attribution in
test_artifacts.py)."""

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

