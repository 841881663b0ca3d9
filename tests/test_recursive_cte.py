"""The recursive order-chain walk (``sql_recursive_order_chain``): its
clone-session discipline, its rows under other widths and AQE settings,
and the number of recursion steps the unrolled walk takes."""

from __future__ import annotations

import math

import pytest

from crane_stream_processing_spark.inventory import (
    REGISTRY,
    release_query_caches,
)
from crane_stream_processing_spark.inventory.spark4 import (
    ORDER_CHAIN_HOPS,
    _order_chain,
)

from .conftest import normalize

NAME = "sql_recursive_order_chain"


def _union_loop_iterations(df) -> int:
    """``numIterations`` of the plan's UnionLoopExec, after ``df`` ran."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "UnionLoop":
            return int(node.metrics().apply("numIterations").value())
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    raise AssertionError("no UnionLoop node in the executed plan")


def _oracle_rows(duck):
    d = duck.execute(REGISTRY[NAME].oracle)
    return normalize(d.fetchall(), [c[0] for c in d.description])


def test_recursion_clone_scopes_aqe_off_for_floor_sized_input(spark, sf_dir):
    """The recursive CTE disables AQE ONLY in its clone session and ONLY
    when the input's scan splits are at/below the width floor — the host
    session's planner conf must never change (the clone-session
    discipline)."""
    host_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    host_parts = spark.conf.get("spark.sql.shuffle.partitions")
    df = REGISTRY[NAME].fn(spark, sf_dir)
    rec = df.sparkSession  # the clone the query built
    assert rec is not spark
    # sf0.001 orders is a single split -> floor-sized -> AQE off in clone
    assert rec.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == host_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == host_parts
    df.write.mode("overwrite").format("noop").save()
    release_query_caches(spark)


@pytest.mark.parametrize("width", [1, 4])
@pytest.mark.parametrize("aqe", ["true", "false"])
def test_rows_match_oracle_at_any_width_and_aqe(spark, sf_dir, duck, width, aqe):
    """The walk's rows do not depend on the recursion's partition count or
    on adaptive execution."""
    rec = spark.newSession()
    rec.conf.set("spark.sql.shuffle.partitions", str(width))
    rec.conf.set("spark.sql.adaptive.enabled", aqe)
    df = _order_chain(rec, sf_dir, width)
    try:
        got = normalize([tuple(r) for r in df.collect()], df.columns)
    finally:
        release_query_caches(spark)
    assert got == _oracle_rows(duck)


def test_walk_takes_ceil_len_over_hops_steps(spark, sf_dir, duck):
    """Each recursion step advances ORDER_CHAIN_HOPS (K) hops, so the
    longest chain (L orders) takes ceil((L - 1) / K) productive steps,
    and UnionLoopExec's ``numIterations`` counts one step more. That is
    fewer steps than the one-hop walk's L - 1, yet more than one: the
    walk stays recursive at this scale."""
    (max_len,) = duck.execute(
        "SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_custkey)"
    ).fetchone()
    steps = math.ceil((max_len - 1) / ORDER_CHAIN_HOPS)
    df = REGISTRY[NAME].fn(spark, sf_dir)
    try:
        df.collect()
        iterations = _union_loop_iterations(df)
    finally:
        release_query_caches(spark)
    assert iterations == steps + 1, (iterations, steps, max_len)
    assert 1 < steps < max_len - 1
    assert iterations < max_len - 1
