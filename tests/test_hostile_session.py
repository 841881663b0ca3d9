"""Hostile-session regression: the driver runs registry queries on ITS OWN
SparkSession — default confs, arbitrary timezone, none of the engine's
builder config. Every conf the engine depends on (UTC semantics, NANOS
timestamp reads, the InferFiltersFromGenerate exclusion) must be
self-set at runtime by the registry wrapper (``inventory.query`` runs
``session.ensure_engine_confs`` before each builder), not assumed. And
no query may leave any other conf of the host session changed.

spark.newSession() shares the SparkContext but gets its own SQLConf; the
test then actively sets adversarial values to prove the engine recovers.
"""

from __future__ import annotations

import pytest

from crane_stream_processing_spark.inventory import REGISTRY, release_query_caches

from .conftest import assert_query_matches_oracle

# One query per self-set dependency: timestamp semantics (events table),
# the generate-filter exclusion (shingle explode), money aggregates (UTC
# date predicate), a streaming reader (catalog.stream_table), the
# saveAsTable/warehouse path (bucketed fixture on a catalog the engine
# didn't prepare), and the Arrow Python-worker path.
HOSTILE_CHECKED = [
    "evt_tumbling_daily_by_type",
    "curate_decontaminate",
    "q1_pricing_summary",
    "stream_tumbling_daily_by_type",
    "io_bucketed_colocated_join",
    "udf_flatmap_token_rows",
    # round-2 additions with their own timezone-sensitive surface:
    # date_trunc('week')+date_format (retention) and the forward as-of's
    # timestamp formatting must self-correct on a non-UTC session
    "evt_retention_cohorts",
    "join_asof_next_purchase_after_error",
]


# The engine semantics confs: the only keys a registry query may set on
# its caller's session.
ENGINE_CONFS = {
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.optimizer.excludedRules",
}


def _hostile_session(spark):
    ns = spark.newSession()
    # Adversarial defaults: wrong timezone, NANOS reads disabled, no
    # optimizer exclusions. The engine must override all three itself.
    ns.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    ns.conf.set("spark.sql.optimizer.excludedRules", "")
    return ns


@pytest.fixture(scope="module")
def hostile(spark):
    return _hostile_session(spark)


@pytest.mark.parametrize("name", HOSTILE_CHECKED)
def test_query_matches_oracle_on_hostile_session(hostile, duck, sf_dir, name):
    q = REGISTRY[name]
    assert_query_matches_oracle(hostile, duck, q.fn, q.oracle, sf_dir)


# Fixture-memoized queries can skip load_table entirely on a session that
# didn't create the fixture — the conf self-set must then come from the
# registry wrapper, which runs session.ensure_engine_confs before every
# builder. Prime the memo on the normal session FIRST so the hostile
# session truly hits the memoized path; both picked queries
# compare/format timestamps, the conf-sensitive operation.
MEMOIZED_TS_SENSITIVE = ["src_orc_roundtrip", "io_zorder_layout"]


@pytest.mark.parametrize("name", MEMOIZED_TS_SENSITIVE)
def test_memoized_fixture_query_on_hostile_session(
    spark, hostile, duck, sf_dir, name
):
    q = REGISTRY[name]
    q.fn(spark, sf_dir).collect()  # populate the per-process fixture memo
    hostile.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    assert_query_matches_oracle(hostile, duck, q.fn, q.oracle, sf_dir)


# One query per conf mechanism: the clone-session queries (token budget,
# recursion, bloom, CBO), the scoped stream start (RocksDB provider, and a
# parts=2 drain's shuffle width) and the scoped connected-components loop.
HOST_CONF_CHECKED = [
    "curate_token_budget_fill",
    "sql_recursive_order_chain",
    "join_bloom_runtime_filter",
    "join_cbo_stats_reorder",
    "stream_rocksdb_dedup_user_type",
    "stream_tumbling_daily_by_type",
    "dedup_cluster_canonical",
]


def test_queries_never_change_host_conf(spark, sf_dir):
    """Right after each build, and after the release sweep that follows
    it, the host session's confs differ from their snapshot only in the
    engine semantics confs. The host's windowGroupLimitThreshold is Spark's
    default (1000), below the token budget, which the budget fill must not
    raise on the host."""
    host = _hostile_session(spark)
    host.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
    snapshot = host.conf.getAll

    def changed() -> set[str]:
        now = host.conf.getAll
        return {k for k in snapshot.keys() | now.keys() if snapshot.get(k) != now.get(k)}

    try:
        for name in HOST_CONF_CHECKED:
            df = REGISTRY[name].fn(host, sf_dir)
            assert changed() == ENGINE_CONFS, f"{name}: after build"
            assert df.count() > 0, name
            release_query_caches(host)
            assert changed() == ENGINE_CONFS, f"{name}: after release"
    finally:
        release_query_caches(host)
